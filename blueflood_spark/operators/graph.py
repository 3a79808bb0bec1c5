"""Graph analytics over the near-duplicate pair graph.

The reference engine has no graph operators; these are the shapes a
curation pipeline runs on the dup graph that `minhash_lsh_pairs` /
`simhash_near_pairs` produce: `connected_components` (operators/dedup.py)
answers "which docs are the same", and `pagerank` here answers "which
copy is the authority" — the centrality signal a keep-best canonical
pick can weight (dedup.py dedup_keep_best uses per-doc heuristics; rank
adds the graph's own vote).

Exactness design — FIXED-POINT INTEGER PageRank: ranks are BIGINTs in
units of 1e-9 (scale = 1_000_000_000 per node), the damping factor is
the exact rational 17/20 = 0.85, and every step is integer arithmetic
(`rank DIV deg`, `sum`, `* 17 DIV 20`) — so Spark and any oracle engine
agree BIT-FOR-BIT regardless of summation order, which float PageRank
never does (order-dependent double sums diverge in the last ulps and
amplify across iterations). The float rank is `rank / scale`.

Semantics: teleport base = scale * 3 DIV 20 per node each iteration;
NO dangling-mass redistribution (on a symmetrized near-dup graph every
non-isolated node has out-degree ≥ 1, and isolated nodes just hold the
teleport base — their initial mass leaves the system, the standard
"pagerank without dangling patch" variant, identical on both engines).

Scale shape: each iteration is ONE join of the edge list with the
node-sized rank frame (both hash-partitioned on the node key) plus ONE
map-side-combinable sum — the textbook distributed PageRank step. The
edge list is joined with out-degrees once and lazily materialized
(`localCheckpoint`) so iterations don't re-shuffle the raw pairs; each
iteration's rank frame is also lazily checkpointed, which truncates the
lineage and keeps Catalyst's analysis cost flat in the iteration count
(an un-truncated 5-deep self-referential plan re-optimizes the whole
chain every pass). Overflow headroom: sum(rank) ≤ n·scale must stay
under 2^63/17 ≈ 5.4e17 — at n beyond ~5e8 nodes drop scale to 1e6 (the
keyword arg) or move to DECIMAL(38,0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCALE = 1_000_000_000
DAMP_NUM = 17
DAMP_DEN = 20


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 5,
    scale: int = SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    checkpoint_every: int = 4,
    symmetric: bool = False,
    caller: SparkSession | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """Fixed-point integer PageRank; returns (id, rank) with rank in
    units of 1/scale. `edges` is DIRECTED — symmetrize before calling
    for an undirected dup graph.

    `checkpoint_every` is the lineage-truncation cadence: each
    localCheckpoint is a real materialization job (~27% of wall at toy
    scale when done EVERY iteration — measured 5.2s → 3.8s at sf0.1
    without), but an untruncated k-deep self-referential plan grows
    linearly in analysis cost and breaks down for large k. Every 4th
    iteration keeps both costs negligible.

    The iteration builds in the AQE-off loop-session clone
    (session.loop_session — the `_cc_distributed` treatment, r7
    verdict task 2): under AQE every lazy checkpoint mark executes its
    subtree eagerly as separate driver-scheduled jobs (the r7 finding),
    so the edge-list mark and each cadence mark each cost a job launch.
    Marked statically in the clone they stay lazy, and the caller's
    first action executes the whole rank chain as one job. The returned
    frame is re-homed to the caller's session, so downstream plans keep
    the caller's conf. HONESTY NOTE (r8, measured): the eager marks
    were PIPELINED stage executions, not re-executed work — suite-warm
    wall is ~unchanged by laziness (the win is cold/single-shot, 7.3 s
    → 4.6 s first pass, and 29 → 1 job launches); segment A/Bs showed
    AQE-off is also neutral-to-positive here (PLANS.md r8).

    ITERATES OVER EDGE-TOUCHED NODES ONLY (the `_cc_distributed`
    vertex-set rule): a node with no in-edges receives zero inbound
    mass every round, so its rank is the constant teleport base after
    round 1 — carrying the full node universe through n_iter rounds of
    left-joins shuffles the whole corpus id space for rows that can
    never change. The loop's node set is ids ∩ (src ∪ dst); everything
    else gets the closed-form base attached by ONE left join at the
    end. Exactness: loop sources all start at `scale` (round 1
    unchanged), isolated nodes contribute no edges, and edge endpoints
    outside `nodes` stay excluded by the intersection — outputs are
    bit-identical to the full-universe loop on any directed graph
    PROVIDED n_iter >= 1 (enforced): at zero iterations the closed-form
    attach would hand isolated nodes `base` while the old full-universe
    loop returned the initial `scale` everywhere — the one input where
    the two shapes disagree, so it is rejected rather than silently
    redefined (r9 ADVICE).

    `caller`: session the result is re-homed to. Defaults to the edge
    frame's own session — pass it EXPLICITLY when the inputs were
    pre-rebound into the loop clone (llm_dup_pagerank marks its pair
    subtree there), otherwise `edges.sparkSession` IS the clone and the
    result would stay pinned to AQE-off planning (r9 ADVICE).

    `n_edges`: the edge count, when the caller already knows it (the
    _n_pairs pattern of dedup.connected_components — r10 verdict task
    4). When provided, the loop width is fitted WITHOUT running the
    per-query `ed.count()` pricing job, and — because the fit then
    happens before `ed` is even constructed — the degree join's own
    exchanges plan at the fitted width too and `ed` materializes inside
    the caller's first action instead of as a separate job. When None,
    pagerank prices itself with one count as before."""
    from blueflood_spark.session import fit_loop_width, loop_session, rebind

    if n_iter < 1:
        raise ValueError(f"pagerank requires n_iter >= 1, got {n_iter}")
    parent = edges.sparkSession
    caller = caller or parent
    child = loop_session(parent)
    edges = rebind(edges, child)
    nodes = rebind(nodes, child)
    base = scale * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    ids = nodes.select(F.col(id_col).cast("long").alias("id")).localCheckpoint(
        eager=False
    )
    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("deg"))
    # (r9 negative result, measured: pre-partitioning ed/touched by
    # their round-join keys — the _cc_distributed sym treatment — LOST
    # here: pagerank's inbound join broadcasts the node-sized ranks
    # side, so the edge side never re-shuffled in the first place, and
    # the added one-time exchanges only fragmented execution — 30 → 34
    # stages, 6 → 8 action jobs, wall flat-to-worse 3.20 vs 3.31 s.
    # The trick pays only where the static side actually shuffles every
    # round, i.e. sort-merge loops like CC's label joins.)
    def _build_ed() -> DataFrame:
        return (
            edges.join(deg, src_col)
            .select(
                F.col(src_col).cast("long").alias("src"),
                F.col(dst_col).cast("long").alias("dst"),
                "deg",
            )
            .localCheckpoint(eager=False)
        )

    # LOOP WIDTH (fit_loop_width — derive partitioning from measured
    # size, guide §2; the _cc_distributed treatment): the clone plans
    # every round's groupBy/left-join exchange statically, so without a
    # fitted width a node-sized rank frame shuffles at the full conf
    # width every round. Priced from the caller-supplied edge count when
    # available (r11, verdict task 4: no per-query count job — and the
    # degree join then plans at the fitted width too, materializing
    # inside the caller's first action); self-priced with one count
    # otherwise (which materializes the edge checkpoint as its own job —
    # the edge subtree still runs exactly once). Capped at the parent's
    # width, so corpus-scale inputs keep the production setting. Set on
    # this call's own clone, so nothing is restored (a no-op on the
    # degraded parent==clone path; width is oracle-proven
    # result-independent — SPARK_GRAFT_SHUFFLE=3 arm).
    ed = None
    if n_edges is None:
        ed = _build_ed()
        n_edges = ed.count()
    fit_loop_width(child, parent, n_edges)
    if ed is None:
        ed = _build_ed()
    # `symmetric=True` (caller asserts src-set == dst-set, true for any
    # symmetrized undirected graph) halves the distinct's input: the
    # src side alone already enumerates every edge-touched node
    endpoints = (
        ed.select("src")
        if symmetric
        else ed.select("src").unionByName(ed.select(F.col("dst").alias("src")))
    )
    touched = (
        endpoints.distinct()
        .join(ids, ids["id"] == F.col("src"), "left_semi")
        .select(F.col("src").alias("id"))
        .localCheckpoint(eager=False)  # every round's left side; one subtree
    )
    ranks = touched.select("id", F.lit(scale).cast("long").alias("rank"))
    for i in range(n_iter):
        inbound = (
            ed.join(ranks, ed["src"] == ranks["id"])
            .select(F.col("dst").alias("id"), F.expr("rank DIV deg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = touched.join(inbound, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr(f"COALESCE(s, 0L) * {DAMP_NUM} DIV {DAMP_DEN}")
            ).cast("long").alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    # one extra LAZY mark on the final ranks (no job, blocks cached
    # on first compute): it pins the post-cadence tail rounds'
    # physical plans inside the clone at the fitted width — without
    # it they plan under the caller's conf at full width
    ranks = ranks.localCheckpoint(eager=False)
    # isolated nodes: constant closed-form rank, one join, zero rounds
    out = ids.join(ranks, "id", "left").select(
        "id", F.coalesce(F.col("rank"), F.lit(base).cast("long")).alias("rank")
    )
    return rebind(out, caller)


def pagerank_sql(
    pairs_sql: str,
    nodes_sql: str,
    n_iter: int = 5,
    scale: int = SCALE,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    node_id: str = "doc_id",
) -> str:
    """DuckDB twin: the same fixed-point iteration unrolled into chained
    CTEs. `pairs_sql` yields undirected pairs (a_col, b_col) — the CTE
    symmetrizes; `nodes_sql` yields the full node universe (node_id)."""
    base = scale * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    # edges is referenced once per unrolled round (+ deg's build) and
    # pairs twice from the symmetrization — un-hinted, DuckDB re-inlined
    # the whole pair-generation pipeline into EVERY round (r9 twin
    # rule: any CTE referenced >= 2× gets MATERIALIZED; 5.0 → 1.1 s at
    # sf0.1, row-identical).
    ctes = [
        f"pairs AS MATERIALIZED ({pairs_sql})",
        f"edges AS MATERIALIZED (SELECT {a_col} AS src, {b_col} AS dst FROM pairs"
        f" UNION ALL SELECT {b_col}, {a_col} FROM pairs)",
        f"ids AS (SELECT CAST({node_id} AS BIGINT) AS id FROM ({nodes_sql}))",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT id, CAST({scale} AS BIGINT) AS rank FROM ids)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT n.id,
         CAST({base} + COALESCE(s.s, 0) * {DAMP_NUM} // {DAMP_DEN} AS BIGINT) AS rank
  FROM ids n LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank // d.deg) AS s
    FROM edges e JOIN r{i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.id = s.id
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, rank FROM r{n_iter}"
    )


def triangle_counts(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    wedge_budget: int | None = 10_000_000_000,
) -> DataFrame:
    """Per-node triangle counts over an undirected canonical edge list
    (id_a < id_b, distinct) — the clustering-coefficient numerator that
    separates tight near-dup cliques (template farms, mirror sets) from
    chains of borderline pairs: a CC component tells you WHO is
    connected, triangle density tells you HOW redundantly.

    Scale design — degree-ordered orientation (the standard distributed
    triangle algorithm): every edge is oriented from its lower
    (degree, id) endpoint to the higher, which bounds out-degree at
    O(√m) on any graph, so the wedge self-join — the only superlinear
    step — generates Σ outdeg² ≤ O(m^1.5) wedge rows instead of the
    Σ deg² a naive neighbor join pays on skewed dup graphs (one viral
    template with 10⁶ copies would otherwise wedge 10¹² rows). Each
    triangle materializes exactly once, at its minimum-(deg, id)
    corner; wedges close via ONE equi-join back to the oriented edges
    (both wedge endpoints ordered by the same (deg, id) key the
    orientation uses, so the closing edge can only point one way).

    Output: (node, degree, n_triangles) for every node with ≥1 edge.
    All integer arithmetic; exactly reproducible on any engine (the
    oracle twin brute-forces the 3-way join instead — recall verified,
    not assumed).

    `wedge_budget` is an EXECUTABLE guard on the superlinear step: the
    exact wedge row count Σ outdeg² is computed from the oriented edges
    (one tiny agg over the already-checkpointed frame, broadcast as a
    scalar) and checked IN the dataflow via raise_error before the wedge
    join emits a single row — no driver sync, and a future edit that
    densifies the input pair graph (e.g. raising a hamming threshold)
    fails fast with the measured count instead of silently scheduling a
    10¹²-row stage. None disables the guard."""
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).distinct()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orientation key rides WITH each endpoint so the wedge stage never
    # re-joins degrees; (degree, id) lexicographic = a total order
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    keyed = e.join(du, "u").join(dv, "v")
    fwd = keyed.filter(
        (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v", F.col("du").alias("ku_deg"), F.col("dv").alias("kv_deg"))
    rev = keyed.filter(
        (F.col("dv") < F.col("du")) | ((F.col("du") == F.col("dv")) & (F.col("v") < F.col("u")))
    ).select(
        F.col("v").alias("u"), F.col("u").alias("v"),
        F.col("dv").alias("ku_deg"), F.col("du").alias("kv_deg"),
    )
    # oriented src→dst, dst carries its (deg, id) key for wedge ordering;
    # the oriented set feeds the wedge join twice AND the closing join —
    # materialize once (self-join-subtree rule)
    oriented = fwd.unionAll(rev).localCheckpoint(eager=False)
    lhs = oriented.select("u", F.col("v").alias("b"), F.col("kv_deg").alias("b_deg"))
    if wedge_budget is not None:
        od = oriented.groupBy("u").agg(F.count(F.lit(1)).alias("_od"))
        chk = od.agg(F.sum(F.col("_od") * F.col("_od")).alias("_wedge_rows"))
        lhs = (
            lhs.crossJoin(F.broadcast(chk))
            .filter(
                F.when(
                    F.col("_wedge_rows") > F.lit(wedge_budget),
                    F.raise_error(
                        F.concat(
                            F.lit("triangle_counts: wedge budget exceeded: sum(outdeg^2) = "),
                            F.col("_wedge_rows").cast("string"),
                            F.lit(f" > {wedge_budget}; densified pair graph — "
                                  "lower the similarity threshold or raise wedge_budget"),
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
            .drop("_wedge_rows")
        )
    rhs = oriented.select("u", F.col("v").alias("c"), F.col("kv_deg").alias("c_deg"))
    wedges = lhs.join(rhs, "u").filter(
        (F.col("b_deg") < F.col("c_deg"))
        | ((F.col("b_deg") == F.col("c_deg")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tris = wedges.join(closing, ["b", "c"]).select("u", "b", "c")
    corners = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
    )


def triangle_counts_sql(pairs_sql: str) -> str:
    """DuckDB twin: exhaustive 3-way join on the canonical (a<b) edge
    set — independent of the Spark side's orientation scheme, so the
    check verifies the algorithm, not its own mirror."""
    # e (5 refs — the whole simhash pair pipeline) and tris (3 refs)
    # MATERIALIZED per the r9 twin rule: DuckDB inlines plain CTEs at
    # every reference, so the un-hinted form re-ran pair generation up
    # to 5× and triangle enumeration 3× (5.3 → 1.8 s at sf0.1,
    # row-identical).
    return f"""
WITH e AS MATERIALIZED (SELECT DISTINCT doc_a AS u, doc_b AS v FROM ({pairs_sql})),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY 1
),
tris AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e a JOIN e b ON b.u = a.v JOIN e c ON c.u = a.u AND c.v = b.v
),
corners AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tris UNION ALL SELECT y FROM tris UNION ALL SELECT z FROM tris
  ) GROUP BY 1
)
SELECT d.node, d.degree, CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN corners c USING (node)
"""
