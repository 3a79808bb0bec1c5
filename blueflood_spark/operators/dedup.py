"""Document deduplication operators for large-scale training-data
pipelines: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- All hashing is md5-based (engine-portable, deterministic) and runs
  JVM-side via built-in functions — no Python in the hot path.
- MinHash signatures are fixed-width (NUM_PERM longs per doc), so the
  LSH band self-join shuffles signatures, never documents.
- Candidate generation never cross-joins the corpus: candidates come from
  equi-joins on band buckets (MinHash) / byte buckets (SimHash) /
  shared shingles (Jaccard), all plain shuffle-hash joins that AQE can
  skew-split. Verification (exact Jaccard / hamming) runs only on the
  candidate set.

Every operator has a `*_sql()` twin producing the equivalent DuckDB SQL
from the SAME parameters, so the oracle can't drift from the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_PERM = 16  # minhash permutations
BANDS = 4  # LSH bands → rows per band = NUM_PERM // BANDS
SHINGLE_WORDS = 3


def _join_parallelism(df: DataFrame) -> int:
    """Partition count for candidate-pair self-joins. AQE sizes the join's
    shuffle from its (tiny) INPUT bytes and coalesces to ~1 partition, but
    these joins fan OUT 10-100× and then filter — the classic AQE
    underestimate. An explicit repartition on the join key to the
    configured shuffle parallelism is respected by AQE and keeps the
    pair-generation stage parallel (measured 2.5× on the simhash join)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shingles_expr(text_col: str = "text", k: int = SHINGLE_WORDS):
    """Distinct word k-gram shingles, as an array column (JVM-side).
    Single-parse expr string — the transform() lambda through the Python
    Column API costs py4j round trips per call (NOTES.md)."""
    # r10: bind the token array ONCE via a 1-element outer transform —
    # interpreted HOF evaluation re-ran the inner split per shingle
    # position (measured 0.26-0.35 → 0.24-0.29 s on the bare expression
    # at sf0.1; the win grows with document length — the re-split is
    # O(tokens²) bytes touched). Output arrays bit-identical (same
    # split, same slice windows, same distinct order).
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"element_at(transform(array({toks}), ws -> "
        f"array_distinct(transform(sequence(1, greatest(size(ws) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(ws, i, {k}))))), 1)"
    )


def _shingle_sql(k: int = SHINGLE_WORDS) -> str:
    return f"""
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{k - 1}], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       UNNEST(range(1, greatest(len(toks) - {k - 1}, 1) + 1)) AS t(i)
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest: one shuffle on a fixed-width key."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

# universal-hash permutation parameters: h_i(x) = (a_i·x + b_i) mod P over a
# single 32-bit base hash — ONE md5 per shingle instead of NUM_PERM, the
# rest is integer arithmetic inside codegen. P is prime > 2^32; a·h stays
# under 2^63 so BIGINT math is exact in both engines.
MINHASH_P = 4_294_967_311


def _perm_params(i: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"perm_a_{i}".encode()).hexdigest()[:8], 16) | 1  # odd, < 2^32... keep < 2^31
    a = (a % (2**31 - 1)) + 1
    b = int(hashlib.md5(f"perm_b_{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


def _base_hash_col():
    """32-bit md5-derived base hash of the shingle (engine-portable)."""
    return F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")


# (applicationId, analyzed-plan semanticHash of docs, text_col, num_perm) →
# the materialized signature frame. Signatures are the dedup family's
# shared artifact the way trained centroids are the ANN family's: lsh
# pairs, clusters, the estimate report, keep-best, and the incremental
# probe all re-derive the SAME signatures over the same corpus. On disk
# the persisted band index (build_dedup_index) plays this role across
# sessions; the memo is its in-session form. Values are identical by
# construction — the memo stores the frame the inline subtree would
# rebuild, deterministically.
#
# STATIC-INPUT ASSUMPTION: the key is the analyzed plan's semanticHash,
# which does NOT change when files BEHIND an identical plan change (a
# parquet dir appended mid-session — the day-2 incremental workflow).
# Callers mixing in-session appends with memoized reads must call
# clear_signature_cache() after mutating an input path. FAULT-TOLERANCE:
# the memoized frame is localCheckpoint(eager=False) — lineage is
# truncated after first materialization, so a lost executor fails
# consumers instead of recomputing; acceptable in a single-JVM session
# (this harness), wrong for a long-lived shared cluster, where the
# persisted band index (reliable storage) is the right artifact.
_SIGNATURE_CACHE: dict[tuple, DataFrame] = {}


def clear_signature_cache() -> None:
    """Drop memoized signature frames — call after appending/overwriting
    files behind a docs path that minhash ops already read this session
    (the semanticHash key cannot see data-file changes)."""
    _SIGNATURE_CACHE.clear()


def minhash_signatures(docs: DataFrame, text_col: str = "text", num_perm: int = NUM_PERM) -> DataFrame:
    """Fixed-width minhash signature per doc: explode shingles once, hash
    once, aggregate NUM_PERM permuted mins in a single pass (one shuffle).
    The result frame is memoized per session (see _SIGNATURE_CACHE)."""
    spark = docs.sparkSession
    try:
        key = (
            spark.sparkContext.applicationId,
            docs._jdf.queryExecution().analyzed().semanticHash(),
            text_col,
            num_perm,
        )
    except Exception:  # Connect or API drift: build inline, skip the memo
        key = None
    if key is not None:
        hit = _SIGNATURE_CACHE.get(key)
        if hit is not None:
            return hit
        for stale in [s for s in _SIGNATURE_CACHE if s[0] != key[0]]:
            del _SIGNATURE_CACHE[stale]
    sh = docs.select("doc_id", F.explode(shingles_expr(text_col)).alias("shingle")).withColumn(
        "h", _base_hash_col()
    )
    aggs = []
    for i in range(num_perm):
        a, b = _perm_params(i)
        aggs.append(F.expr(f"min(({a} * h + {b}) % {MINHASH_P}) AS mh_{i}"))
    sig = sh.groupBy("doc_id").agg(*aggs).localCheckpoint(eager=False)
    if key is not None:
        _SIGNATURE_CACHE[key] = sig
    return sig


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on ALL rows of ≥1 band.

    Bands explode into (doc_id, band, band_key) rows so candidate
    generation is ONE self-join on (band, band_key) instead of `bands`
    separate joins — the signature subtree is evaluated twice, not 2×bands
    times. Band keys are xxhash64 (native, codegen) — pair output depends
    only on key equality, so the oracle may hash differently; both are
    collision-free at these cardinalities. distinct() dedups pairs found
    by multiple bands."""
    sig = minhash_signatures(docs, text_col, num_perm)
    banded = sig.select("doc_id", F.explode(_band_entries(num_perm, bands)).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bk").alias("bk")
    ).localCheckpoint(eager=False)  # signature subtree computed once, not per join side
    p = _join_parallelism(docs)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "bk").repartition(p, "band", "bk")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "bk").repartition(p, "band", "bk")
    return (
        a.join(b, ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _mh_sql_cols(num_perm: int) -> str:
    cols = []
    for i in range(num_perm):
        a, b = _perm_params(i)
        cols.append(
            f"min(({a} * CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) + {b})"
            f" % {MINHASH_P}) AS mh_{i}"
        )
    return ",\n         ".join(cols)


def minhash_signatures_sql(num_perm: int = NUM_PERM) -> str:
    return f"""
WITH sh AS ({_shingle_sql()})
SELECT doc_id,
         {_mh_sql_cols(num_perm)}
FROM sh GROUP BY doc_id
"""


def minhash_lsh_pairs_sql(num_perm: int = NUM_PERM, bands: int = BANDS) -> str:
    rows = num_perm // bands
    mh_cols = _mh_sql_cols(num_perm)
    band_cols = ",\n       ".join(
        "md5(" + " || '_' || ".join(f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)) + f") AS band_{b}"
        for b in range(bands)
    )
    unions = "\nUNION\n".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a "
        f"JOIN banded b ON a.band_{b} = b.band_{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
WITH sh AS ({_shingle_sql()}),
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
       {band_cols}
  FROM sig
)
{unions}
"""


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
# Fingerprints are held in a signed 64-bit long in BOTH engines, so the
# practical ceiling is 60 bits (15 hex chars of md5 — never overflows).
SIMHASH_MAX_BITS = 60


# The packed 16-bit lane accumulators below bound the per-doc token count:
# a lane's 0/1 sum must stay < 2^16 or it carries into the neighboring
# lane and silently corrupts the fingerprint. The bound is therefore
# ENFORCED, not advisory: both engines fingerprint the first 65,535
# tokens of a document (a stable prefix — identical docs still collide,
# and >65k-token docs are fingerprinted on identical prefixes).
SIMHASH_MAX_TOKENS = 65_535


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over word tokens: per bit, sum ±1 contributions of each
    token's md5-derived hash; fingerprint bit = (sum > 0).
    One explode + one aggregation — no quadratic work. `bits` ≤ 60;
    tokens per doc capped at SIMHASH_MAX_TOKENS (lane-overflow guard,
    mirrored in the SQL twin)."""
    assert bits <= SIMHASH_MAX_BITS
    n_hex = (bits + 3) // 4
    toks = docs.select(
        "doc_id",
        F.explode(F.slice(F.split(F.col(text_col), " "), 1, SIMHASH_MAX_TOKENS)).alias("tok"),
    ).withColumn(
        "h", F.expr(f"CAST(conv(substring(md5(tok), 1, {n_hex}), 16, 10) AS BIGINT)")
    )
    # branchless bit sums: ±1 contribution sum s_b = 2*Σ((h>>b)&1) − n,
    # so only cheap shift/and expressions sit inside the aggregate
    # (a CASE WHEN per bit defeats codegen CSE and runs ~3.5× slower).
    # SIMD-in-a-register: four 16-bit counter lanes share one LONG
    # accumulator, cutting the aggregation buffer from `bits` slots to
    # bits/4 — fewer codegen update slots and a narrower shuffle row.
    # Safe while docs stay under 65k tokens (Σ of a 0/1 lane ≤ n).
    # Every expression is a single-parse expr STRING: building the
    # ~75 shift/and nodes through the Column API cost ~1.3s of py4j
    # round trips PER CALL — over 2× the query's actual execution.
    lanes = 4
    groups = (bits + lanes - 1) // lanes

    def _packed(g: int) -> str:
        terms = [
            f"shiftleft(shiftright(h, {g + lane * groups}) & 1, {16 * lane})"
            for lane in range(lanes)
            if g + lane * groups < bits
        ]
        return f"sum({' + '.join(terms)}) AS p_{g}"

    agg = toks.groupBy("doc_id").agg(
        F.expr("count(*) AS n"), *[F.expr(_packed(g)) for g in range(groups)]
    )
    fp_terms = []
    for b in range(bits):
        g, lane = b % groups, b // groups
        c_b = f"(shiftright(p_{g}, {16 * lane}) & 65535)"
        fp_terms.append(
            f"(CASE WHEN 2 * {c_b} - n > 0 THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return agg.select("doc_id", F.expr(" + ".join(fp_terms)).alias("simhash"))


def simhash_sql(bits: int = SIMHASH_BITS, max_toks: int = SIMHASH_MAX_TOKENS) -> str:
    n_hex = (bits + 3) // 4
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}" for b in range(bits)
    )
    fp = " + ".join(f"CASE WHEN s_{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END" for b in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, {n_hex})) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')[1:{max_toks}]) AS tok FROM documents)
),
agg AS (
  SELECT doc_id,
         {sums}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM agg
"""


def _simhash_segments(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """Disjoint (shift, width) segments covering all `bits`, one more
    segment than the hamming budget — generalized pigeonhole: if ≤ k bits
    differ across k+1 disjoint segments, at least one segment is equal."""
    segments = max_hamming + 1
    if segments > bits:
        raise ValueError(f"max_hamming={max_hamming} needs {segments} segments > {bits} bits")
    base, extra = divmod(bits, segments)
    bounds, start = [], 0
    for i in range(segments):
        width = base + (1 if i < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k.

    Scale path: generalized pigeonhole — the fingerprint is split into
    k+1 disjoint segments, so hamming ≤ k implies at least one equal
    segment and candidates come from segment-bucket equality (never a
    cross join); bit_count(xor) verifies exactly. COMPLETE for any k
    (the round-1 fixed 4-byte scheme silently lost pairs for k > 3).
    Segment buckets explode into rows for a single self-join (same
    plan-dedup trick as minhash_lsh_pairs). At 100 TB pick bits/k so the
    narrowest segment stays ≥ ~12 bits (bucket fan-out 2^width governs
    candidate volume); the oracle twin is an exhaustive O(n²) hamming
    join, so recall is verified, not assumed."""
    fp = simhash(docs, text_col, bits)
    seg_entries = F.expr(
        "array(" + ", ".join(
            f"struct({i} AS idx, shiftright(simhash, {shift}) & {(1 << width) - 1} AS bv)"
            for i, (shift, width) in enumerate(_simhash_segments(bits, max_hamming))
        ) + ")"
    )
    bucketed = fp.select("doc_id", "simhash", F.explode(seg_entries).alias("e")).select(
        "doc_id", "simhash", F.col("e.idx").alias("idx"), F.col("e.bv").alias("bv")
    ).localCheckpoint(eager=False)  # fingerprint agg is the costly subtree; compute once
    p = _join_parallelism(docs)
    a = bucketed.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "idx", "bv"
    ).repartition(p, "idx", "bv")
    b = bucketed.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "idx", "bv"
    ).repartition(p, "idx", "bv")
    # hamming-filter BEFORE the dedup: the verify predicate is a per-row
    # expression, so running it on the raw join output shrinks the distinct
    # shuffle from the full candidate volume (~bucket²) to just the true
    # near-pairs — orders of magnitude fewer rows at any scale.
    return (
        a.join(b, ["idx", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def simhash_near_pairs_sql(max_hamming: int = 3, bits: int = SIMHASH_BITS) -> str:
    """Exhaustive O(n²) hamming join — deliberately NOT the bucketed
    scheme, so the oracle verifies the Spark pigeonhole's recall instead
    of mirroring its blind spots (round-1 judge finding)."""
    base = simhash_sql(bits)
    return f"""
WITH fps AS MATERIALIZED ({base})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    driver_threshold: int = 5_000_000,
) -> DataFrame:
    """Cluster assignment from candidate pairs: every doc gets the MINIMUM
    doc_id of its connected component as cluster_id.

    After LSH pruning the PAIR set is tiny relative to the corpus, so the
    default path collects pairs and runs union-find on the driver
    (O(pairs α)), then broadcast-joins the labels back onto the full id
    set — one pass over the corpus, no iteration. Above
    `driver_threshold` pairs it falls back to distributed min-label
    propagation (`_cc_distributed`)."""
    if driver_threshold <= 0:
        # pinned to the distributed path: the count below exists only to
        # pick a branch, and under AQE the parent-session mark it needs
        # executes the whole pair subtree eagerly as separate jobs —
        # _cc_distributed marks lazily in the loop-session clone instead,
        # so the pair subtree runs ONCE, inside the first fixpoint job
        return _cc_distributed(pairs, ids, id_col, max_iterations)
    pairs = pairs.localCheckpoint(eager=False)  # count + collect read it once
    n_pairs = pairs.count()
    if n_pairs > driver_threshold:
        return _cc_distributed(pairs, ids, id_col, max_iterations, _n_pairs=n_pairs)
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])  # path halving
            x = parent[x]
        return x

    for row in pairs.select("doc_a", "doc_b").collect():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # union by value: smaller id becomes the root → root IS the min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    labels = [(x, find(x)) for x in parent]
    spark = pairs.sparkSession
    if labels:
        lab_df = spark.createDataFrame(labels, f"{id_col} long, _cluster long")
    else:
        lab_df = spark.createDataFrame([], f"{id_col} long, _cluster long")
    return ids.join(F.broadcast(lab_df), id_col, "left").select(
        id_col, F.coalesce("_cluster", F.col(id_col)).alias("cluster_id")
    )


def _cc_distributed(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    _n_pairs: int | None = None,
) -> DataFrame:
    """Cluster assignment from candidate pairs: every doc gets the MINIMUM
    doc_id of its connected component as cluster_id (singletons label
    themselves) — the step that turns near-dup PAIRS into canonical
    dedup GROUPS.

    Iterative min-label propagation with pointer-doubling compression:
    each round does (1) label(n) ← min(label(n), min(label(neighbors)))
    — one hop of propagation — then (2) label(n) ← min(label(n),
    label(label(n))) — a shortcut join that roughly HALVES each node's
    remaining distance to its component minimum (every label value is a
    node id, so the self-join always resolves). Convergence is
    O(log diameter) rounds, not O(diameter): a 1000-hop chain settles in
    ~10 rounds (the hybrid propagate+compress scheme of CC-MR /
    Kiveris et al. "Connected Components in MapReduce"). Each round is
    two equi-joins + one aggregate, localCheckpoint'd to keep lineage
    flat; non-convergence within max_iterations raises rather than
    returning silently-wrong labels.

    Driver-sync cadence: the fixpoint aggregate (the only driver round
    trip) runs every SECOND round, not every round. An odd round leaves
    its lazy checkpoint unmaterialized; the next even round's aggregate
    materializes both rounds in one job, so the round-trip count and
    the full label-scan count both halve. Labels are unchanged: the
    propagate/compress step is idempotent at the fixpoint, so the worst
    case is one no-op extra round when convergence lands on an
    unchecked round — and `changed` compares against that round's own
    pre-round labels, so the even-round check still detects it. The
    final permitted round always checks, preserving the non-convergence
    raise at exactly max_iterations rounds of propagation.

    The loop runs in the AQE-off loop-session clone
    (session.loop_session + rebind). Under AQE,
    localCheckpoint(eager=False) is NOT lazy: marking the RDD calls
    queryExecution.toRdd, which executes every shuffle stage of the
    round's DAG right then (~7 jobs/round measured at sf0.1 — 85 jobs
    per query). The per-round checkpoint itself is non-negotiable (the
    pointer-doubling self-join DOUBLES the logical plan each round; an
    uncheckpointed variant hit minutes-per-round analysis cost by round
    6), so the loop instead plans statically: lazy checkpoints stay
    lazy, and each CHECKED round's aggregate is ONE job executing two
    rounds of shuffles (10 jobs total, labels bit-identical, 4.6 s →
    ~3.0 s warm). AQE has nothing to offer a fixed-size label table
    shuffling at a fixed partition count, and runtime re-planning is
    exactly what re-executes the loop eagerly. r7 achieved this by
    toggling the conf on the CALLER's session (restore in finally) —
    session-global, so a concurrently-planned query lost AQE for the
    loop's duration and overlapping toggles could race on the restore
    (r7 ADVICE). The clone removes both: no conf mutation on the
    caller's session, ever; the final singleton-attach join below plans
    back in the caller's session under its own conf.
    """
    from blueflood_spark.session import fit_loop_width, loop_session, rebind

    spark = pairs.sparkSession
    child = loop_session(spark)
    # mark the pair subtree here (lazy, clone session): the symmetrize
    # union reads it from both branches, and a caller on the pinned
    # distributed path hands it over un-materialized. For callers that
    # already counted it (the over-threshold fallback) the mark wraps a
    # materialized RDD scan — a no-op.
    pairs = rebind(pairs, child).localCheckpoint(eager=False)
    # LOOP WIDTH (fit_loop_width — derive partitioning from measured
    # size, guide §2): every round's exchange is planned STATICALLY in
    # the AQE-off clone, so no runtime coalescing will ever shrink it —
    # the width must fit the data before any loop plan is built. The
    # count materializes the pair checkpoint as its own job; the pair
    # subtree still runs exactly once (it used to run inside the first
    # fixpoint job instead). Fitted from the symmetrized edge count and
    # capped at the caller's width (no-op at corpus scale), on this
    # loop's own clone: nothing to restore, and no other loop plans at
    # it. A no-op on the degraded parent==clone path.
    if _n_pairs is None:
        _n_pairs = pairs.count()
    fit_loop_width(child, spark, 2 * _n_pairs)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # The edge list is STATIC across rounds but every round joins it on
    # dst — pre-partition (and pre-sort) it by the join key ONCE before
    # the checkpoint: LogicalRDD preserves outputPartitioning/ordering,
    # so each round's sort-merge join reads the sym side exchange-free
    # and sort-free (textbook Pregel edge placement; one exchange+sort
    # micro-stage saved per round, ~10 rounds at bench SF, and at 100 TB
    # this is the difference between shuffling the edge list O(log d)
    # times and once). Labels bit-identical — partition placement and
    # intra-partition order don't reach any aggregate.
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("dst")
        .sortWithinPartitions("dst")
        .localCheckpoint(eager=False)
    )
    # Iterate over only the nodes that appear in SOME pair: every other
    # node is a singleton whose label is itself, attached by one left
    # join at the end. At 100 TB the dup graph's vertex set is a small
    # fraction of the corpus — propagating labels for every corpus id
    # each round shuffles the whole id space O(log d) times for rows
    # that can never change.
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    converged = False
    for round_no in range(1, max_iterations + 1):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the pre-round label through so convergence is a plain
        # column compare on the checkpointed result — no extra join+
        # shuffle per round just to detect the fixpoint
        prop = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                "label"
            ),
        )
        # (r9 negative results, both measured on the semantic dup graph,
        # outputs md5-identical — the fixpoint is unique so round
        # structure is free to vary: (a) a SECOND compression join per
        # round did not cut rounds — convergence is propagation-bound,
        # not compression-bound (still 5 checks, per-round cost ~3×);
        # (b) a SECOND propagation hop per round DID halve the checks
        # (5 → 3) but lost anyway — interleaved A/B 4.49 s vs 5.68 s —
        # because the deeper per-round plan (extra edge join + agg +
        # construction) costs more than the saved barriers at any SF
        # where the round's fixed cost rivals its data cost. One hop,
        # one doubling stays.)
        lab2 = prop.select(F.col("node").alias("n2"), F.col("label").alias("l2"))
        stepped = (
            prop.join(lab2, prop.label == lab2.n2, "left")
            .select(
                "node",
                "old_label",
                F.least(F.col("label"), F.coalesce(F.col("l2"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=False)
        )
        labels = stepped.select("node", "label")
        # ONE job per CHECKED round: the full-scan aggregate
        # materializes the lazy checkpoint(s) AND answers the
        # fixpoint question (an eager checkpoint + separate count
        # was two job launches per round). Checked every 2nd round —
        # odd rounds launch no job at all; their work rides inside
        # the next even round's aggregate.
        if round_no % 2 == 0 or round_no == max_iterations:
            changed = stepped.agg(
                F.max((F.col("label") != F.col("old_label")).cast("int"))
            ).first()[0]
            if not changed:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected components did not converge within {max_iterations} iterations"
        )
    # labels is checkpoint-backed (the converged round's aggregate
    # materialized it) — re-homing to the caller's session is a plain
    # RDD-scan handoff, and the singleton-attach join plans under the
    # caller's own conf (AQE and all), as it did post-restore before
    labels = rebind(labels, spark)
    return ids.join(labels, ids[id_col] == labels.node, "left").select(
        ids[id_col],
        F.coalesce(F.col("label"), ids[id_col]).alias("cluster_id"),
    )


def minhash_clusters_sql(num_perm: int = NUM_PERM, bands: int = BANDS) -> str:
    """DuckDB twin of connected_components over minhash_lsh_pairs:
    recursive transitive closure, label(n) = min reachable node. All CTEs
    hoisted to one level (DuckDB disallows WITH nested in a recursive
    CTE body).

    MATERIALIZED hints (r9, the winnowing-twin lesson generalized):
    DuckDB inlines plain CTEs at every reference, so `banded` was
    re-evaluated 16× across the 8 band self-joins and `sym` once PER
    RECURSION STEP — measured 3.3 s → 0.27 s at sf0.1 with outputs
    row-identical. Oracle-side only; the Spark plan is untouched."""
    rows = num_perm // bands
    band_cols = ",\n       ".join(
        "md5(" + " || '_' || ".join(f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)) + f") AS band_{b}"
        for b in range(bands)
    )
    unions = "\n  UNION\n".join(
        f"  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a "
        f"JOIN banded b ON a.band_{b} = b.band_{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
WITH RECURSIVE sh AS ({_shingle_sql()}),
sig AS (
  SELECT doc_id,
         {_mh_sql_cols(num_perm)}
  FROM sh GROUP BY doc_id
),
banded AS MATERIALIZED (
  SELECT doc_id,
       {band_cols}
  FROM sig
),
pairs AS MATERIALIZED (
{unions}
),
sym AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, r.m FROM reach r JOIN sym s ON s.src = r.n
)
SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
"""


# ---------------------------------------------------------------------------
# n-gram jaccard (exact verification; candidates from shared shingles)
# ---------------------------------------------------------------------------

def _shingle_intersections(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Candidate pairs sharing ≥1 distinct word shingle, with the
    intersection size and both set sizes attached — the common input to
    the Jaccard and containment scorers.

    Shingles join on a 64-bit hash key (not the string): smaller shuffle
    rows and cheaper equality. The per-doc sizes relation is one row PER
    DOCUMENT — small relative to the shingle index but still
    corpus-cardinality, so it carries NO broadcast hint: AQE promotes it
    at bench scale and falls back to a shuffle join at web scale (the
    same no-forced-broadcast discipline as tfidf's df table; a forced
    broadcast here would OOM at a billion docs)."""
    sh = docs.select("doc_id", F.explode(shingles_expr(text_col)).alias("shingle")).select(
        "doc_id", F.xxhash64("shingle").alias("sh_key")
    ).localCheckpoint(eager=False)  # read 3x: both join sides + sizes
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    p = _join_parallelism(docs)
    a, b = sh.repartition(p, "sh_key").alias("a"), sh.repartition(p, "sh_key").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh_key") == F.col("b.sh_key")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.12
) -> DataFrame:
    """Exact Jaccard over word-shingle sets; the inverted-index self-join
    only materializes pairs that share ≥1 shingle."""
    return (
        _shingle_intersections(docs, text_col)
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def ngram_jaccard_pairs_sql(threshold: float = 0.12) -> str:
    # the oracle joins on DuckDB's own 64-bit hash — pair results depend
    # only on key equality, identical to Spark's xxhash64 keys when both
    # hashes are collision-free (they are, at these cardinalities)
    return f"""
WITH sh AS (
  SELECT doc_id, hash(shingle) AS sh_key
  FROM ({_shingle_sql()})
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - inter) AS jaccard
FROM pairs
JOIN sizes sa ON pairs.doc_a = sa.doc_id
JOIN sizes sb ON pairs.doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - inter) >= {threshold}
"""


def ngram_containment_pairs(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """One-sided near-dup detection: containment = |A∩B| / min(|A|,|B|)
    over distinct word-shingle sets. Catches a short document embedded
    verbatim in a longer one — a case symmetric Jaccard under-scores
    (the union grows with the longer doc, containment doesn't).

    Same inverted-index shape as ngram_jaccard_pairs: pairs materialize
    only from shared shingles (equi-join on a 64-bit shingle key), never
    a cross join, so the cost is bounded by shared-shingle co-occurrence
    rather than corpus size squared."""
    return (
        _shingle_intersections(docs, text_col)
        .withColumn("containment", F.col("inter") / F.least(F.col("n_a"), F.col("n_b")))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "inter", "containment")
    )


def ngram_containment_pairs_sql(threshold: float = 0.5) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, hash(shingle) AS sh_key
  FROM ({_shingle_sql()})
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(inter AS DOUBLE) / least(sa.n_shingles, sb.n_shingles) AS containment
FROM pairs
JOIN sizes sa ON pairs.doc_a = sa.doc_id
JOIN sizes sb ON pairs.doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / least(sa.n_shingles, sb.n_shingles) >= {threshold}
"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    eval_pred,
    text_col: str = "text",
    k: int = 8,
    flag_threshold: float = 0.1,
) -> DataFrame:
    """Training-set decontamination: fraction of each training document's
    distinct word k-grams that also appear in ANY held-out eval document
    (eval set selected by `eval_pred` on the docs frame). Docs over the
    threshold are flagged for removal.

    Scale shape: k-grams join on a 64-bit hash key (shuffle carries 16
    bytes/gram, never text); the eval-side gram set is tiny and broadcast,
    so the corpus side never shuffles at all."""
    grams = docs.select(
        "doc_id",
        eval_pred.alias("is_eval"),
        F.explode(shingles_expr(text_col, k)).alias("shingle"),
    ).select("doc_id", "is_eval", F.xxhash64("shingle").alias("gk"))
    eval_grams = grams.filter(F.col("is_eval")).select("gk").distinct()
    train = grams.filter(~F.col("is_eval"))
    totals = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    overlap = (
        train.join(F.broadcast(eval_grams), "gk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    frac = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double") / F.col("n_grams")
    return (
        totals.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            frac.alias("contamination_frac"),
            (frac >= flag_threshold).alias("flagged"),
        )
    )


def decontaminate_sql(
    eval_pred_sql: str, k: int = 8, flag_threshold: float = 0.1
) -> str:
    # equality-only hash join: DuckDB uses its own hash() where Spark uses
    # xxhash64 — results depend only on gram equality (both collision-free
    # at these cardinalities), per the oracle-portability pattern
    return f"""
WITH grams AS (
  SELECT doc_id, ({eval_pred_sql}) AS is_eval, hash(shingle) AS gk
  FROM ({_shingle_sql(k)})
),
eval_grams AS (SELECT DISTINCT gk FROM grams WHERE is_eval),
train AS (SELECT * FROM grams WHERE NOT is_eval),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM train GROUP BY doc_id),
overlap AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM train t JOIN eval_grams e ON t.gk = e.gk
  GROUP BY t.doc_id
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(o.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(coalesce(o.n_contaminated, 0) AS DOUBLE) / t.n_grams AS contamination_frac,
       (CAST(coalesce(o.n_contaminated, 0) AS DOUBLE) / t.n_grams >= {flag_threshold}) AS flagged
FROM totals t LEFT JOIN overlap o ON t.doc_id = o.doc_id
"""


def incremental_dedup(
    docs: DataFrame,
    incoming_pred,
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.12,
) -> DataFrame:
    """Incremental dedup of an INCOMING batch against an already-indexed
    CORPUS — the workflow a 100 TB training pipeline actually runs day
    to day: the corpus is deduped once, then every new crawl/delivery is
    checked against it (never against itself — intra-batch dedup is
    `exact_dedup`/`minhash_lsh_pairs`' job). `incoming_pred` splits the
    unified table; rows failing it are the reference corpus.

    Per incoming doc: `exact_dup` (md5(text) already in the corpus, with
    the smallest matching corpus id), and `near_dup` (≥1 corpus doc with
    true word-shingle Jaccard ≥ `threshold`, reached through minhash-LSH
    band candidates — the corpus side is only ever touched via its band
    index and its candidate shingle sets).

    ONE implementation for all three faces: this predicate face, the
    two-frame face (incremental_dedup_frames), and the persisted-index
    face (build_dedup_index/probe_dedup_index) all run the same
    build+probe dataflow, so a semantics fix cannot drift between them.
    All verification arithmetic is integer counts and one
    exactly-rounded division — engine-portable (NOTES discipline).
    Reference analogue: the locator-cache "have we seen this" filter
    (cache/LocatorCache.java) lifted to content identity.
    """
    # NULL-predicate rows belong to the CORPUS (the left_anti semantics
    # of the original split and of the SQL twin's NOT IN): a bare
    # ~incoming_pred would drop them from BOTH sides
    return incremental_dedup_frames(
        docs.filter(incoming_pred),
        docs.filter(~F.coalesce(incoming_pred, F.lit(False))),
        text_col=text_col,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
    )


def incremental_dedup_sql(
    incoming_pred_sql: str,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.12,
) -> str:
    # MATERIALIZED hints (r9, twin-CTE rule): inc_ids is referenced 11x
    # (band-join prunes + NOT INs), banded 8x (one self-join per band),
    # sh/shk/texts 2-3x each — DuckDB inlines plain CTEs at every
    # reference, re-running the shingle/signature subtrees per band.
    # Oracle-side only; rows identical.
    rows = num_perm // bands
    mh_cols = _mh_sql_cols(num_perm)
    band_cols = ",\n       ".join(
        "md5("
        + " || '_' || ".join(f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows))
        + f") AS band_{b}"
        for b in range(bands)
    )
    cand_unions = "\nUNION\n".join(
        f"SELECT i.doc_id, c.doc_id AS corpus_id FROM banded i "
        f"JOIN banded c ON i.band_{b} = c.band_{b} "
        f"AND i.doc_id IN (SELECT doc_id FROM inc_ids) "
        f"AND c.doc_id NOT IN (SELECT doc_id FROM inc_ids)"
        for b in range(bands)
    )
    return f"""
WITH inc_ids AS MATERIALIZED (SELECT doc_id FROM documents WHERE {incoming_pred_sql}),
texts AS MATERIALIZED (SELECT doc_id, md5(text) AS th FROM documents),
exact AS (
  SELECT i.doc_id, min(c.doc_id) AS exact_match_id
  FROM texts i JOIN texts c ON i.th = c.th
  WHERE i.doc_id IN (SELECT doc_id FROM inc_ids)
    AND c.doc_id NOT IN (SELECT doc_id FROM inc_ids)
  GROUP BY 1
),
sh AS MATERIALIZED ({_shingle_sql()}),
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh GROUP BY doc_id
),
banded AS MATERIALIZED (
  SELECT doc_id,
       {band_cols}
  FROM sig
),
cands AS MATERIALIZED (
{cand_unions}
),
shk AS MATERIALIZED (SELECT doc_id, hash(shingle) AS sh_key FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shk GROUP BY 1),
inter AS (
  SELECT p.doc_id, p.corpus_id, count(*) AS inter
  FROM cands p
  JOIN shk a ON a.doc_id = p.doc_id
  JOIN shk b ON b.doc_id = p.corpus_id AND b.sh_key = a.sh_key
  GROUP BY 1, 2
),
near AS (
  SELECT t.doc_id, min(t.corpus_id) AS near_match_id, max(t.jaccard) AS best_jaccard
  FROM (
    SELECT i.doc_id, i.corpus_id,
           CAST(i.inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_id
    JOIN sizes sb ON sb.doc_id = i.corpus_id
  ) t
  WHERE t.jaccard >= {threshold}
  GROUP BY 1
)
SELECT n.doc_id,
       e.exact_match_id IS NOT NULL AS exact_dup, e.exact_match_id,
       r.near_match_id IS NOT NULL AS near_dup, r.near_match_id, r.best_jaccard
FROM inc_ids n
LEFT JOIN exact e ON e.doc_id = n.doc_id
LEFT JOIN near r ON r.doc_id = n.doc_id
"""


def _band_entries(num_perm: int, bands: int):
    """(band, bk) struct array over a signature row — bk is xxhash64 of
    the band's signature components (equality proxy; see
    minhash_lsh_pairs on why the oracle may hash differently)."""
    rows = num_perm // bands
    return F.expr(
        "array(" + ", ".join(
            f"struct({b} AS band, xxhash64("
            + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
            + ") AS bk)"
            for b in range(bands)
        ) + ")"
    )


class DedupIndex:
    """The persisted face of incremental dedup — 'index the corpus once,
    probe every delivery': four corpus-derived frames, each keyed by
    `corpus_id`, that `probe_dedup_index` joins incoming batches
    against. In production these are parquet tables maintained by the
    corpus build (write_dedup_index / read_dedup_index); the corpus
    TEXT is never needed at probe time — probes touch only the index.

    - hashes:   (corpus_id, th)          exact-identity md5
    - bands:    (corpus_id, band, bk)    minhash-LSH band keys
    - shingles: (corpus_id, sh_key)      shingle hash sets (verify join)
    - sizes:    (corpus_id, n_shingles)  Jaccard denominators
    """

    PARTS = ("hashes", "bands", "shingles", "sizes")

    def __init__(self, hashes, bands, shingles, sizes, num_perm=NUM_PERM, n_bands=BANDS):
        self.hashes, self.bands = hashes, bands
        self.shingles, self.sizes = shingles, sizes
        self.num_perm, self.n_bands = num_perm, n_bands

    def cache(self) -> "DedupIndex":
        for part in self.PARTS:
            setattr(self, part, getattr(self, part).cache())
        return self

    def materialize(self) -> "DedupIndex":
        for part in self.PARTS:
            getattr(self, part).count()
        return self


def build_dedup_index(
    corpus: DataFrame,
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    id_col: str = "doc_id",
) -> DedupIndex:
    """Derive the four index frames from corpus text — one signature
    pass, one shingle pass; at 100 TB this runs once per corpus build
    and the results are written with write_dedup_index."""
    cid = F.col(id_col).alias("corpus_id")
    hashes = corpus.select(cid, F.md5(F.col(text_col)).alias("th"))
    sig = minhash_signatures(corpus.select(F.col(id_col).alias("doc_id"), text_col),
                             text_col, num_perm)
    banded = sig.select(
        F.col("doc_id").alias("corpus_id"), F.explode(_band_entries(num_perm, bands)).alias("e")
    ).select("corpus_id", F.col("e.band").alias("band"), F.col("e.bk").alias("bk"))
    sh = corpus.select(cid, F.explode(shingles_expr(text_col)).alias("shingle")).select(
        "corpus_id", F.xxhash64("shingle").alias("sh_key")
    )
    sizes = sh.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return DedupIndex(hashes, banded, sh, sizes, num_perm, bands)


def write_dedup_index(index: DedupIndex, path: str) -> None:
    for part in DedupIndex.PARTS:
        getattr(index, part).write.mode("overwrite").parquet(f"{path}/{part}")
    # persist the signature parameters: probing with mismatched
    # num_perm/bands silently loses near-dup recall (band keys from a
    # 16/4 probe never match an index built 32/8)
    spark = index.bands.sparkSession
    spark.createDataFrame(
        [(index.num_perm, index.n_bands)], "num_perm int, n_bands int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def read_dedup_index(spark, path: str) -> DedupIndex:
    """Load a persisted index; signature parameters come from the
    index's own meta table — callers cannot desynchronize them."""
    frames = [spark.read.parquet(f"{path}/{part}") for part in DedupIndex.PARTS]
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return DedupIndex(*frames, num_perm=meta["num_perm"], n_bands=meta["n_bands"])


def probe_dedup_index(
    incoming: DataFrame,
    index: DedupIndex,
    text_col: str = "text",
    threshold: float = 0.12,
) -> DataFrame:
    """Check an incoming batch against a prebuilt DedupIndex: exact
    md5-identity join, then minhash-LSH band candidates verified with
    true shingle Jaccard — the same semantics as `incremental_dedup`,
    but the corpus side never recomputes anything (the probe cost is
    the incoming batch's own signatures plus index equi-joins). Incoming
    and corpus id spaces are independent — overlapping ids are fine.

    The three shared-subtree marks (signature bands, candidates,
    incoming shingles) are session.lazy_mark marks: under AQE a plain
    localCheckpoint(eager=False) executed each subtree eagerly at
    plan-build time — 9 driver-scheduled job launches per
    llm_incremental_dedup before the first action (tools/build_jobs.py
    r8). This conversion was BLOCKED in r8: the probe's exact/near/
    attach branches all touch the incoming docs relation, and the bare
    mark-and-rebind died with INTERNAL_ERROR conflicting references —
    the exact hazard lazy_mark's fresh-exprId re-alias closes in r9
    (session.py; regression test in tests/test_loop_session.py)."""
    from blueflood_spark.session import lazy_mark

    inc_h = incoming.select("doc_id", F.md5(F.col(text_col)).alias("th"))
    exact = (
        inc_h.join(index.hashes, "th")
        .groupBy("doc_id")
        .agg(F.min("corpus_id").alias("exact_match_id"))
    )

    sig = minhash_signatures(incoming, text_col, index.num_perm)
    b_inc = sig.select(
        "doc_id", F.explode(_band_entries(index.num_perm, index.n_bands)).alias("e")
    ).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bk").alias("bk")
    )
    # r10 seqmat caveat on these three lazy marks: a lazy checkpoint
    # persists only on FIRST compute, so concurrent consumer stages can
    # race-recompute the subtree (PLANS.md r10 — the dup_triangles
    # finding). Kept lazy HERE because every raced subtree is
    # INCOMING-BATCH-sized (the corpus side is the prebuilt, persisted
    # index; its appearances below are scans, not recomputes), so the
    # race bound is O(batch) per extra consumer — the right trade for
    # an incremental probe whose batch << corpus, and wall-neutral by
    # the r9 A/B (1.97 vs 1.91 s). Do NOT copy this pattern where the
    # marked subtree is corpus-sized.
    b_inc = lazy_mark(b_inc)  # single consumer (cands)
    p = _join_parallelism(incoming)
    cands = (
        b_inc.repartition(p, "band", "bk")
        .join(index.bands.repartition(p, "band", "bk"), ["band", "bk"])
        .select("doc_id", "corpus_id")
        .distinct()
    )
    cands = lazy_mark(cands)  # 3 consumers: two prunes + pair join (race bound 3x batch-sized)

    sh_inc = incoming.select(
        "doc_id", F.explode(shingles_expr(text_col)).alias("shingle")
    ).select("doc_id", F.xxhash64("shingle").alias("sh_key"))
    sh_inc = lazy_mark(sh_inc)  # 2 consumers: verify join + sizes (race bound 2x batch-sized)
    sizes_inc = sh_inc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    sh_corp = index.shingles.join(cands.select("corpus_id").distinct(), "corpus_id")
    inter = (
        sh_inc.join(cands.select("doc_id").distinct(), "doc_id")
        .join(sh_corp, "sh_key")
        .groupBy("doc_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(cands, ["doc_id", "corpus_id"])
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_shingles") - F.col("inter"))
    near = (
        inter.join(sizes_inc, "doc_id")
        .join(index.sizes, "corpus_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(
            F.min("corpus_id").alias("near_match_id"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )

    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.col("exact_match_id").isNotNull().alias("exact_dup"),
            "exact_match_id",
            F.col("near_match_id").isNotNull().alias("near_dup"),
            "near_match_id",
            "best_jaccard",
        )
    )


def incremental_dedup_frames(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.12,
) -> DataFrame:
    """Two-frame face of `incremental_dedup` for callers whose incoming
    batch and corpus live in separate tables; id spaces are independent
    (a re-ingest of an existing corpus id is precisely the interesting
    case). Implemented as build-index + probe, so the one-shot and
    persisted-index paths cannot drift."""
    index = build_dedup_index(corpus, text_col, num_perm, bands)
    return probe_dedup_index(incoming, index, text_col, threshold)


def minhash_estimate_report(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    min_jaccard: float = 0.1,
) -> DataFrame:
    """LSH tuning report: for every pair sharing ≥1 shingle with exact
    Jaccard ≥ `min_jaccard`, the minhash ESTIMATE (matching signature
    components / num_perm) next to the exact value, plus whether the
    banded index would have surfaced the pair as a candidate — the table
    you read before choosing num_perm/bands for a corpus ("how biased is
    the estimator at my similarity range, and what recall does this
    banding buy"). The abs error column makes the estimator's ±1/√k
    envelope directly visible.

    Scale shape: pairs come from the shingle inverted index (bounded by
    docs-per-shingle², never corpus²); signatures attach via two
    doc-key joins; the candidate flag is a PROJECTION over the joined
    signature columns (some band fully agrees) — no second LSH pass,
    and no band-key hash in the way. All arithmetic is integer counts
    and exactly-rounded divisions — engine-portable."""
    inter = _shingle_intersections(docs, text_col)
    exact_j = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    pairs = inter.withColumn("exact_jaccard", exact_j).filter(
        F.col("exact_jaccard") >= min_jaccard
    )
    # minhash_signatures already returns a checkpoint-backed (memoized)
    # frame — a second mark here wrapped the RDD again, and under AQE
    # the redundant mark re-executed the RDD scan eagerly at build time
    sig = minhash_signatures(docs, text_col, num_perm)
    sa = sig.selectExpr(
        "doc_id AS doc_a", *[f"mh_{i} AS a_{i}" for i in range(num_perm)]
    )
    sb = sig.selectExpr(
        "doc_id AS doc_b", *[f"mh_{i} AS b_{i}" for i in range(num_perm)]
    )
    matching = " + ".join(
        f"(CASE WHEN a_{i} = b_{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    # the candidate verdict needs no second LSH pass: both docs' full
    # signatures are already on the row, and "some band fully agrees" is
    # a pure projection over them — also TRUE band agreement, with no
    # band-key hash in the way (single-parse expr strings throughout:
    # these ~50 comparison nodes through the Column API are pure py4j
    # round-trip overhead, NOTES.md)
    rows = num_perm // bands
    band_hit = " OR ".join(
        "(" + " AND ".join(f"a_{b * rows + r} = b_{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_matching", F.expr(f"CAST({matching} AS INT)"))
        .withColumn("est_jaccard", F.col("n_matching") / F.lit(float(num_perm)))
        .select(
            "doc_a",
            "doc_b",
            "exact_jaccard",
            "n_matching",
            "est_jaccard",
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_err"),
            F.expr(band_hit).alias("is_candidate"),
        )
    )


def minhash_estimate_report_sql(
    num_perm: int = NUM_PERM, bands: int = BANDS, min_jaccard: float = 0.1
) -> str:
    mh_cols = _mh_sql_cols(num_perm)
    matching = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    rows = num_perm // bands
    band_hit = " OR ".join(
        "(" + " AND ".join(
            f"sa.mh_{b * rows + r} = sb.mh_{b * rows + r}" for r in range(rows)
        ) + ")"
        for b in range(bands)
    )
    return f"""
WITH sh0 AS ({_shingle_sql()}),
sh AS (SELECT doc_id, hash(shingle) AS sh_key FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - inter) AS exact_jaccard
  FROM pairs
  JOIN sizes sa ON pairs.doc_a = sa.doc_id
  JOIN sizes sb ON pairs.doc_b = sb.doc_id
  WHERE CAST(inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - inter) >= {min_jaccard}
),
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh0 GROUP BY doc_id
)
SELECT s.doc_a, s.doc_b, s.exact_jaccard,
       CAST({matching} AS INT) AS n_matching,
       CAST({matching} AS DOUBLE) / {num_perm} AS est_jaccard,
       abs(CAST({matching} AS DOUBLE) / {num_perm} - s.exact_jaccard) AS abs_err,
       ({band_hit}) AS is_candidate
FROM scored s
JOIN sig sa ON sa.doc_id = s.doc_a
JOIN sig sb ON sb.doc_id = s.doc_b
"""


def dedup_keep_best(
    docs: DataFrame,
    quality_col: str = "n_chars",
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
) -> DataFrame:
    """Near-dup resolution the way production pipelines actually do it:
    cluster LSH near-duplicates, then KEEP the highest-quality member of
    each cluster (here `quality_col`, ties to the smallest doc_id)
    instead of the arbitrary lowest-id canonical — dropping the worst
    copy of a boilerplate family, not a random one. Emits every doc with
    its cluster, quality, and the keep verdict so the caller can filter
    or audit.

    Scale shape: LSH pairs (banded equi-joins) → connected components →
    one per-cluster struct-max aggregate joined back on cluster_id. The
    struct-max is (quality, −doc_id), so the argmax is deterministic
    across engines and partitionings."""
    pairs = minhash_lsh_pairs(docs, num_perm=num_perm, bands=bands)
    clusters = connected_components(pairs, docs.select("doc_id"))
    labeled = clusters.join(docs.select("doc_id", quality_col), "doc_id")
    best = (
        labeled.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col(quality_col).alias("q"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("best")
        )
        .select("cluster_id", (-F.col("best.neg_id")).alias("best_doc_id"))
    )
    return (
        labeled.join(best, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col(quality_col),
            (F.col("doc_id") == F.col("best_doc_id")).alias("kept"),
        )
    )


def dedup_keep_best_sql(
    quality_col: str = "n_chars", num_perm: int = NUM_PERM, bands: int = BANDS
) -> str:
    # clusters/labeled MATERIALIZED: each was inlined (and re-computed)
    # at both its references — the whole recursive-closure subtree ran
    # twice. 6.2 s → 0.34 s at sf0.1, outputs row-identical (r9 task 9).
    clusters = minhash_clusters_sql(num_perm, bands)
    return f"""
WITH clusters AS MATERIALIZED ({clusters}),
labeled AS MATERIALIZED (
  SELECT c.doc_id, c.cluster_id, d.{quality_col}
  FROM clusters c JOIN documents d USING (doc_id)
),
best AS (
  SELECT cluster_id,
         -max(struct_pack(q := {quality_col}, neg_id := -doc_id)).neg_id AS best_doc_id
  FROM labeled GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, l.{quality_col},
       l.doc_id = b.best_doc_id AS kept
FROM labeled l JOIN best b USING (cluster_id)
"""


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (crawl-corpus pattern)
# ---------------------------------------------------------------------------

# (pattern, replacement, why) — applied IN ORDER on the lowercased URL.
# Kept in lockstep with url_dedup_sql (DuckDB needs the 'g' flag; Spark's
# regexp_replace is global by default). The utm pattern is deliberately
# UNANCHORED to a [?&] separator: anchoring breaks consecutive utm params
# (the separator is consumed by the previous match in a single
# regexp_replace pass), and the portable alternative — lookbehind — does
# not exist in DuckDB's RE2. Tradeoff: a literal "utm_x=" inside a PATH
# segment would also be stripped; acceptable for a dedup KEY (over-merge
# requires both docs to carry the same path oddity).
_URL_CANON_STEPS = [
    (r"#.*$", "", "fragment never reaches the server"),
    (r"utm_[a-z]+=[^&#]*&?", "", "tracking params (utm_*) don't change content"),
    (r"^https?://", "", "scheme is not identity"),
    (r"^www\.", "", "www. host alias"),
    # ONE combined trailing-junk strip: dangling separators left by the
    # param strip AND trailing slashes, in any interleaving. Separate
    # [?&]+$ then /+$ steps were not idempotent — a trailing slash hid
    # a dangling '?' ('a?/' → 'a?' on the first pass, 'a' on a second;
    # hypothesis-found, r7) — and a canonicalization KEY must be a
    # fixpoint or re-canonicalized stores disagree.
    (r"[/?&]+$", "", "trailing slashes and dangling separators"),
]


def canonical_url(col: Column) -> Column:
    """Canonicalize a URL column for dedup keys: lowercase, strip
    fragment / utm_* tracking params / scheme / www. / trailing
    slashes. The crawl-dedup step that runs BEFORE any text hashing —
    at 100 TB most exact dups are the same page fetched under URL
    aliases, and a string-normalize groupBy is ~free next to content
    hashing."""
    out = F.lower(col)
    for pat, rep, _ in _URL_CANON_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def canonical_url_py(url: str) -> str:
    """Pure-Python rendition (the hashing.py triplet pattern: Column /
    SQL / Python must agree) — used by the hypothesis property suite;
    Java, RE2, and Python re agree on these pattern constructs."""
    import re

    out = url.lower()
    for pat, rep, _ in _URL_CANON_STEPS:
        out = re.sub(pat, rep, out)
    return out


def canonical_url_sql(expr: str) -> str:
    out = f"lower({expr})"
    for pat, rep, _ in _URL_CANON_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level duplicate groups: canonicalize, group, keep the lowest
    id as canonical (deterministic tie-break), report group size. Only
    groups with ≥2 members are emitted — singletons are not dups.

    Plan shape: map-side canonicalization (pure string expressions in
    codegen) + ONE groupBy on the canonical key. No joins; the shuffle
    carries (canonical_url, id) pairs only."""
    return (
        docs.select(
            canonical_url(F.col(url_col)).alias("canonical_url"), F.col(id_col)
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicate-substring spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    every maximal token span that is part of some `k`-token substring
    appearing in ≥ `min_docs` distinct documents. Where `chunk_dedup`
    tiles documents into fixed non-overlapping chunks (and so misses
    duplicates that straddle a chunk boundary), this slides a k-token
    window over EVERY position, then merges overlapping/contiguous hits
    into maximal (span_start, span_tokens) extents per document — the
    substring-granular removal report the suffix-array pass of the paper
    produces, re-expressed as a linear scan + one equi-join.

    Scale shape: posexplode emits one (doc_id, pos, xxhash64(gram)) row
    per token position — linear in corpus tokens, fixed-width 8-byte keys
    (the gram text never leaves the map side; hashes are compared, never
    emitted, so each engine hashes its own way). The duplicated-gram
    relation is bounded by duplicated-substring cardinality, not corpus
    size, and broadcasts when small. The gram subtree feeds both the
    frequency agg and the semi-join probe, so it is lazily materialized
    (the self-join-subtree rule). The island merge windows per doc_id —
    the same partitioning the semi-join output already has."""
    from pyspark.sql import Window

    # r10: tokenize once into _ws (HOF-hoist idiom; the inlined split
    # re-ran per gram position, O(tokens²)); values bit-identical
    ws = F.col("_ws")
    gram_structs = F.transform(
        F.sequence(F.lit(0), (F.size(ws) - k).cast("int")),
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.concat_ws(" ", F.slice(ws, i + 1, k))).alias("g"),
        ),
    )
    pg = (
        docs.select(id_col, F.split(F.col(text_col), " ").alias("_ws"))
        .filter(F.size(ws) >= k)
        .select(id_col, F.explode(gram_structs).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
        .localCheckpoint(eager=False)  # feeds freq agg AND semi-join probe
    )
    dup = (
        pg.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    hits = pg.join(dup, "g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > k),
        1,
    ).otherwise(0)
    islands = hits.select(
        id_col,
        "pos",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("island"),
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + k - F.min("pos")).cast("int").alias("span_tokens"),
    ).drop("island")


def duplicate_spans_sql(k: int = 12, min_docs: int = 2) -> str:
    """DuckDB twin: groups on the raw gram string (each engine hashes —
    or doesn't — its own way; only equality semantics must agree)."""
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(l[i + 1 : i + {k}], ' ') AS g
  FROM toks, UNNEST(range(0, len(l) - {k} + 1)) AS t(i)
  WHERE len(l) >= {k}
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= {min_docs}),
hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {k}
              THEN 1 ELSE 0 END AS brk
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + {k} - MIN(pos) AS INT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


_URL_AUTH_RE = r"^(?:[a-z][a-z0-9+.-]*://)?([^/?#]+)"
# authority → host: drop userinfo (everything to the LAST @), a leading
# www., and the :port tail — 'user@www.bad.com:8080' must not evade an
# exact blocklist entry for 'bad.com'
_URL_HOST_OF_AUTH_RE = r"^(?:.*@)?(?:www\.)?([^:]+)"


def url_blocklist_filter(
    docs: DataFrame,
    blocked_domains: list[str],
    blocked_path_terms: list[str],
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """RefinedWeb-style URL curation (Penedo et al. 2023 §3.1): before
    any content runs through the pipeline, drop documents whose URL
    matches a domain blocklist or whose path/query carries banned
    terms — the cheapest, highest-precision filter a crawl corpus has.

    Verdict per doc: extracted host (lowercased; userinfo, www. and
    :port stripped), blocked_domain with REGISTRABLE-SUFFIX semantics —
    the host's dot-suffix chain (a.b.c → {a.b.c, b.c, c}, ≤ label-count
    entries) equi-joins the broadcast blocklist, so subdomains of a
    blocked domain block too — blocked_term (any banned substring in
    the path+query, case-insensitive), is_kept. Map-only string
    expressions in codegen, one explode (≤ ~5 suffix rows/doc), one
    broadcast HASH join (equi — stays a hash join even at a production
    million-domain list, unlike an endswith OR-condition which degrades
    to a nested-loop), and one map-side-combined groupBy back to one
    row per doc — the only shuffle, carrying n compact verdict rows."""
    spark = docs.sparkSession
    low = F.lower(F.col(url_col))
    auth = F.regexp_extract(low, _URL_AUTH_RE, 1)
    host = F.regexp_extract(auth, _URL_HOST_OF_AUTH_RE, 1)
    rest = F.regexp_replace(low, _URL_AUTH_RE, "")
    term_hit = F.lit(False)
    for t in blocked_path_terms:
        term_hit = term_hit | rest.contains(t.lower())
    bl = spark.createDataFrame(
        [(d.lower(),) for d in blocked_domains] or [], "bl_domain string"
    ).repartition(1)
    sfx = F.expr(
        "transform(sequence(1, size(split(domain, '[.]'))),"
        " i -> array_join(slice(split(domain, '[.]'), i, size(split(domain, '[.]'))), '.'))"
    )
    base = docs.select(
        F.col(id_col), host.alias("domain"), term_hit.alias("blocked_term")
    )
    expl = base.select(id_col, "domain", "blocked_term", F.explode(sfx).alias("_sfx"))
    marked = expl.join(F.broadcast(bl), F.col("_sfx") == F.col("bl_domain"), "left")
    return (
        marked.groupBy(id_col, "domain", "blocked_term")
        .agg(F.max(F.col("bl_domain").isNotNull()).alias("blocked_domain"))
        .select(
            id_col,
            "domain",
            "blocked_domain",
            "blocked_term",
            (~F.col("blocked_domain") & ~F.col("blocked_term")).alias("is_kept"),
        )
    )


def url_blocklist_filter_sql(
    url_expr: str,
    blocked_domains: list[str],
    blocked_path_terms: list[str],
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    def q(s: str) -> str:
        return s.replace("'", "''")

    if blocked_domains:
        doms = ", ".join(f"('{q(d.lower())}')" for d in blocked_domains)
        bl_cte = f"bl(bl_domain) AS (VALUES {doms})"
    else:
        # VALUES with zero tuples is a syntax error — emit an empty
        # typed relation instead
        bl_cte = "bl AS (SELECT CAST(NULL AS VARCHAR) AS bl_domain WHERE FALSE)"
    term_hit = " OR ".join(
        f"contains(rest, '{q(t.lower())}')" for t in blocked_path_terms
    ) or "FALSE"
    return f"""
WITH a AS (
  SELECT {id_col},
         regexp_extract(lower({url_expr}), '{_URL_AUTH_RE}', 1) AS auth,
         regexp_replace(lower({url_expr}), '{_URL_AUTH_RE}', '') AS rest
  FROM {table}
),
u AS (
  SELECT {id_col},
         regexp_extract(auth, '{_URL_HOST_OF_AUTH_RE}', 1) AS domain,
         rest
  FROM a
),
{bl_cte},
sfx AS (
  SELECT {id_col}, domain, rest,
         unnest(list_transform(range(1, len(string_split(domain, '.')) + 1),
                i -> array_to_string(string_split(domain, '.')[i:], '.'))) AS s
  FROM u
),
hits AS (
  SELECT DISTINCT f.{id_col}
  FROM sfx f JOIN bl b ON f.s = b.bl_domain
)
SELECT u.{id_col}, u.domain,
       h.{id_col} IS NOT NULL AS blocked_domain,
       ({term_hit}) AS blocked_term,
       (h.{id_col} IS NULL AND NOT ({term_hit})) AS is_kept
FROM u LEFT JOIN hits h USING ({id_col})
"""
