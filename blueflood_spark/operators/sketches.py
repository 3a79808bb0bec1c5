"""Deterministic mergeable sketches: Count-Min (heavy hitters) and
HyperLogLog (distinct cardinality).

Why hand-rolled when Spark has approx_count_distinct: Spark's HLL++ and
any engine's native sketch are implementation-defined — their registers
and estimates cannot be checked against another engine. These sketches
derive every hash from md5 (the repo's portability rule), so the FULL
register/counter tables AND the estimates are bit-reproducible across
Spark, DuckDB, and a Python reference — the sketch itself becomes an
oracle-checkable table.

Why sketches at all: at 100 TB, exact heavy-hitters and exact distinct
counts per group either shuffle the full key stream or hold unbounded
state. Both sketches here are MERGEABLE aggregates (CMS cells add;
HLL registers max), so partial sketches combine map-side exactly like
sum() partials, and a day's sketch unions with history in O(sketch)
memory — the property tests assert mergeability, which is the whole
scale story.

Reference context: the closest reference operator is the Set rollup's
member-hash union (BluefloodSetRollup.java:30-43) whose 100 TB
generalization is exactly HLL; heavy hitters generalize the token
doc-count aggregation (A10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blueflood_spark.functions.hashing import md5_bucket, md5_bucket_sql


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

def count_min_sketch(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """The CMS table itself: depth × width counters, cell(j, b) =
    Σ weight over keys with md5_bucket(key, salt=j) == b. Built from the
    per-key exact counts (one groupBy — keys are far fewer than rows),
    then d tiny explode rows per distinct key. Pure integer arithmetic.
    """
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    per_key = df.groupBy(key_col).agg(F.sum(w).alias("n"))
    rows = per_key.select(
        key_col,
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        md5_bucket(F.col(key_col), f"cms{j}", width).alias("b"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e"),
    )
    return (
        rows.select("n", F.col("e.j").alias("j"), F.col("e.b").alias("b"))
        .groupBy("j", "b")
        .agg(F.sum("n").alias("cell"))
    )


def cms_estimates(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Per-key CMS estimate next to the exact count: est = min over the
    d cells the key hashes into; CMS guarantees est ≥ true (counters
    only ever overcount collisions). Join shape: the sketch is d·w rows
    — broadcast — and each distinct key probes d cells."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    sketch = count_min_sketch(df, key_col, weight_col, depth, width)
    per_key = df.groupBy(key_col).agg(F.sum(w).alias("true_n"))
    probes = per_key.select(
        key_col,
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        md5_bucket(F.col(key_col), f"cms{j}", width).alias("b"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e"),
    ).select(key_col, "true_n", F.col("e.j").alias("j"), F.col("e.b").alias("b"))
    return (
        probes.join(F.broadcast(sketch), ["j", "b"])
        .groupBy(key_col, "true_n")
        .agg(F.min("cell").alias("est_n"))
        .withColumn("overcount", F.col("est_n") - F.col("true_n"))
    )


def cms_estimates_sql(
    table: str,
    key_col: str,
    weight_expr: str = "1",
    depth: int = 4,
    width: int = 64,
) -> str:
    probes = " UNION ALL ".join(
        f"SELECT {key_col}, true_n, {j} AS j, "
        f"{md5_bucket_sql(key_col, f'cms{j}', width)} AS b FROM per_key"
        for j in range(depth)
    )
    return f"""
WITH per_key AS (
  SELECT {key_col}, CAST(sum({weight_expr}) AS BIGINT) AS true_n
  FROM {table} GROUP BY 1
),
probes AS ({probes}),
sketch AS (
  SELECT j, b, CAST(sum(true_n) AS BIGINT) AS cell
  FROM probes GROUP BY 1, 2
)
SELECT p.{key_col}, p.true_n, CAST(min(s.cell) AS BIGINT) AS est_n,
       CAST(min(s.cell) - p.true_n AS BIGINT) AS overcount
FROM probes p JOIN sketch s ON p.j = s.j AND p.b = s.b
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def hll_registers(
    df: DataFrame, value_col: str, keys: list[str], p: int = 8
) -> DataFrame:
    """The HLL register table per key group: m = 2^p rows at most, each
    the MAX rho seen — the mergeable state (union of sketches = element-
    wise max), constant memory per group at any cardinality."""
    h = F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    tail_bits = 60 - p
    # integer DIV, never `/`: h spans 60 bits and double division loses
    # exactness above 2^53
    base = df.select(*keys, h.alias("h")).select(
        *keys,
        F.expr(f"h DIV {2**tail_bits}").alias("reg"),
        F.expr(f"h % {2**tail_bits}").alias("w"),
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(tail_bits + 1)).otherwise(
            F.lit(tail_bits) - F.length(F.expr("bin(w)")) + 1
        ),
    )
    return base.groupBy(*keys, "reg").agg(F.max("rho").alias("max_rho"))


def hll_estimate(
    df: DataFrame, value_col: str, keys: list[str], p: int = 8
) -> DataFrame:
    """HLL cardinality estimate next to the exact distinct count.
    raw = α_m · m² / (Σ 2^−M_j), zero registers contributing 2^0 = 1;
    the small-range correction m·ln(m/V) applies when raw ≤ 2.5m and
    zero registers exist (Flajolet et al. 2007). Every 2^−rho term is an
    EXACT double (powers of two), so the same-sign sum is stable to the
    last ulps across engines; ln enters only the correction branch."""
    m = 2**p
    alpha = 0.7213 / (1 + 1.079 / m)  # p >= 7
    regs = hll_registers(df, value_col, keys, p)
    agg = regs.groupBy(*keys).agg(
        F.count("*").alias("n_used"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("sum_used"),
    )
    zeros = F.lit(m) - F.col("n_used")
    denom = F.col("sum_used") + zeros.cast("double")
    raw = F.lit(alpha * m * m) / denom
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    ).otherwise(raw)
    exact = df.groupBy(*keys).agg(F.countDistinct(value_col).alias("true_distinct"))
    return (
        agg.select(*keys, "n_used", zeros.alias("n_zero"), est.alias("est_distinct"))
        .join(exact, keys)
    )


def hll_estimate_sql(
    table: str, value_expr: str, keys: list[str], p: int = 8
) -> str:
    m = 2**p
    alpha = 0.7213 / (1 + 1.079 / m)
    tail = 60 - p
    keys_csv = ", ".join(keys)
    return f"""
WITH hashed AS (
  SELECT {keys_csv},
         CAST(('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM {table}
),
split AS (
  SELECT {keys_csv}, h // {2**tail} AS reg, h % {2**tail} AS w
  FROM hashed
),
rho AS (
  SELECT {keys_csv}, reg,
         CASE WHEN w = 0 THEN {tail + 1}
              ELSE {tail} - length(bin(w)) + 1 END AS rho
  FROM split
),
regs AS (
  SELECT {keys_csv}, reg, max(rho) AS max_rho FROM rho GROUP BY {keys_csv}, reg
),
agg AS (
  SELECT {keys_csv}, count(*) AS n_used,
         sum(pow(2.0, -max_rho)) AS sum_used
  FROM regs GROUP BY {keys_csv}
),
est AS (
  SELECT {keys_csv}, n_used, {m} - n_used AS n_zero,
         CASE WHEN {alpha * m * m} / (sum_used + ({m} - n_used)) <= {2.5 * m}
                   AND {m} - n_used > 0
              THEN {float(m)} * ln({float(m)} / ({m} - n_used))
              ELSE {alpha * m * m} / (sum_used + ({m} - n_used)) END AS est_distinct
  FROM agg
)
SELECT {keys_csv}, n_used, CAST(n_zero AS BIGINT) AS n_zero,
       est_distinct, true_distinct
FROM est JOIN (
  SELECT {keys_csv}, count(DISTINCT {value_expr}) AS true_distinct
  FROM {table} GROUP BY {keys_csv}
) x USING ({keys_csv})
"""


# ---------------------------------------------------------------------------
# Hash-sampled quantile estimation
# ---------------------------------------------------------------------------

def sampled_quantile(
    df: DataFrame,
    value_col: str = "value",
    group_cols: tuple[str, ...] = ("tenant_id", "metric_name"),
    key_cols: tuple[str, ...] = ("tenant_id", "metric_name", "ts"),
    p: float = 0.95,
    rate: float = 0.25,
    salt: str = "sq",
) -> DataFrame:
    """Quantile estimation over a DETERMINISTIC hash sample, reported
    against the exact quantile (the estimator-vs-exact tuning-report
    shape, like the MinHash estimate report).

    Why not exact at 100 TB: an exact per-group percentile materializes
    each group's full value list in one task — unbounded state for hot
    groups. Why not rand()/reservoir: row-level RNG is not stable across
    retries, partitionings, or engines, so a retried task changes the
    answer. The md5-uniform draw over the row's identity is both: a true
    Bernoulli(rate) sample AND a pure function of the data, mergeable
    across days (day-2's sample unions with day-1's; no sampler state).
    Memory per group drops to ~rate·|group| with relative rank error
    O(1/sqrt(rate·n)).

    One shuffle: the sample flag is a map-side projection; exact and
    sampled percentiles ride the same groupBy via FILTER aggregates."""
    from blueflood_spark.functions.hashing import md5_uniform

    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    flagged = df.withColumn("_in_sample", md5_uniform(key, salt) < F.lit(rate))
    return flagged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_in_sample").cast("long")).alias("n_sampled"),
        F.expr(f"percentile({value_col}, {p}D)").alias("exact_q"),
        F.expr(f"percentile({value_col}, {p}D) FILTER (WHERE _in_sample)").alias("est_q"),
    )


def sampled_quantile_sql(
    source: str,
    value_col: str = "value",
    group_cols: tuple[str, ...] = ("tenant_id", "metric_name"),
    key_expr: str = "tenant_id || '|' || metric_name || '|' || CAST(ts AS VARCHAR)",
    p: float = 0.95,
    rate: float = 0.25,
    salt: str = "sq",
) -> str:
    from blueflood_spark.functions.hashing import md5_uniform_sql

    gc = ", ".join(group_cols)
    flag = f"({md5_uniform_sql(key_expr, salt)} < {rate})"
    return f"""
SELECT {gc},
       count(*) AS n,
       CAST(count(*) FILTER (WHERE {flag}) AS BIGINT) AS n_sampled,
       quantile_cont({value_col}, {p}) AS exact_q,
       quantile_cont({value_col}, {p}) FILTER (WHERE {flag}) AS est_q
FROM {source}
GROUP BY {gc}
"""


# ---------------------------------------------------------------------------
# Bloom filter — the at-scale membership structure for incremental dedup
# ---------------------------------------------------------------------------

def bloom_words(
    df: DataFrame,
    key_col: str = "key",
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """The Bloom filter itself as a (word_idx, word) table: k md5-derived
    bit positions per key, packed 32 bits per BIGINT word (bit 31 max —
    both engines overflow a BIGINT `1 << 63`, and 32-bit packing keeps
    every mask positive and portable).

    MERGEABLE like the other sketches: words of (A ∪ B) = per-word
    bit_or of words(A), words(B) — so partial filters combine map-side
    and a day's filter unions with history in O(m/32) rows. This is the
    structure that replaces the shuffled anti-join in day-2 incremental
    dedup at 100 TB: history compresses to m bits, the incoming batch
    probes it map-only, and only bloom-positive rows pay the exact
    verification join. All hashes derive from md5 (portability rule) so
    the full word table is bit-reproducible cross-engine."""
    pos = [
        F.struct(md5_bucket(F.col(key_col), f"bloom{j}", m_bits).alias("pos"))
        for j in range(k)
    ]
    return (
        df.select(F.explode(F.array(*pos)).alias("e"))
        .select(
            (F.col("e.pos") / 32).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(e.pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_membership(
    corpus_keys: DataFrame,
    probe: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Probe each row of `probe` against the Bloom filter built from
    `corpus_keys`: bloom_maybe = all k bits set; true_dup = exact key
    membership (the verification join Bloom positives would pay);
    is_false_positive = the filter's documented error class (never a
    false negative — the property tests assert it).

    Plan shape: the filter is ≤ m/32 rows — broadcast; each probe row
    expands to k (word_idx, mask) lookups, one broadcast join, one
    groupBy back to the row. The exact-membership arm is a broadcast
    semi-join on the distinct corpus keys. Nothing corpus-sized
    shuffles."""
    words = bloom_words(corpus_keys, key_col, m_bits, k)
    pos = [
        F.struct(md5_bucket(F.col(key_col), f"bloom{j}", m_bits).alias("pos"))
        for j in range(k)
    ]
    probes = probe.select(
        id_col,
        key_col,
        F.explode(F.array(*pos)).alias("e"),
    ).select(
        id_col,
        key_col,
        (F.col("e.pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(e.pos % 32 AS INT))").alias("mask"),
    )
    checked = probes.join(F.broadcast(words), "word_idx", "left").select(
        id_col,
        key_col,
        (F.expr("coalesce(word, CAST(0 AS BIGINT)) & mask") != 0).alias("bit_set"),
    )
    verdicts = checked.groupBy(id_col, key_col).agg(
        F.min("bit_set").alias("bloom_maybe")
    )
    truth = corpus_keys.select(F.col(key_col).alias("_ck")).distinct()
    return (
        verdicts.join(
            F.broadcast(truth), verdicts[key_col] == truth["_ck"], "left"
        )
        .select(
            id_col,
            "bloom_maybe",
            F.col("_ck").isNotNull().alias("true_dup"),
            (F.col("bloom_maybe") & F.col("_ck").isNull()).alias("is_false_positive"),
        )
    )


def bloom_membership_sql(
    corpus_pred: str,
    probe_pred: str,
    key_expr: str,
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k: int = 3,
    table: str = "documents",
) -> str:
    """DuckDB twin of bloom_membership over `table` split by the two
    predicates; key_expr must reference the table's columns."""
    corpus_pos = " UNION ALL ".join(
        f"SELECT {md5_bucket_sql('k', f'bloom{j}', m_bits)} AS pos FROM ck"
        for j in range(k)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT {id_col}, k, {md5_bucket_sql('k', f'bloom{j}', m_bits)} AS pos FROM pk"
        for j in range(k)
    )
    return f"""
WITH ck AS (SELECT {key_expr} AS k FROM {table} WHERE {corpus_pred}),
pk AS (SELECT {id_col}, {key_expr} AS k FROM {table} WHERE {probe_pred}),
cpos AS ({corpus_pos}),
words AS (
  SELECT pos // 32 AS word_idx, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
  FROM cpos GROUP BY 1
),
ppos AS ({probe_pos}),
checked AS (
  SELECT p.{id_col}, p.k,
         (coalesce(w.word, CAST(0 AS BIGINT)) & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT))) != 0 AS bit_set
  FROM ppos p LEFT JOIN words w ON p.pos // 32 = w.word_idx
),
verdicts AS (
  SELECT {id_col}, k, min(bit_set) AS bloom_maybe FROM checked GROUP BY 1, 2
)
SELECT v.{id_col},
       v.bloom_maybe,
       t._ck IS NOT NULL AS true_dup,
       (v.bloom_maybe AND t._ck IS NULL) AS is_false_positive
FROM verdicts v LEFT JOIN (SELECT DISTINCT k AS _ck FROM ck) t ON v.k = t._ck
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) — distinct sketch with set-INTERSECTION support
# ---------------------------------------------------------------------------

def kmv_sketch(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    k: int = 64,
    salt: str = "kmv",
    prefilter_margin: int = 4,
) -> DataFrame:
    """The KMV sketch table: per group, the k smallest md5-derived
    32-bit hashes of the DISTINCT values (Beyer et al. 2007). Mergeable
    like the other sketches — union(A, B) = k smallest of the
    concatenated sketch rows — and, unlike HLL, supports set
    INTERSECTION estimation (the Jaccard of two sketches over their
    union's k smallest is an unbiased similarity estimator), which is
    what cross-tenant / cross-source audience-overlap questions need.
    Deterministic md5 hashing per the portability rule: the sketch TABLE
    is bit-reproducible cross-engine. Estimator: n̂ = (k−1)·2³² / h_k.

    Scale shape (the 100 TB path): a count-derived hash-bound
    PRE-FILTER runs before the distinct/window — per group, an
    approx_count_distinct pass derives n̂, and only hashes below
    t = margin·k/n̂ · 2³² survive into the shuffle. The distinct's
    shuffle and the per-group sort then carry ~margin·k rows per group
    instead of n_g (survivors ~ Binomial(n_g, margin·k/n_g), so
    P(<k survivors) ≈ e^-Θ(margin·k) even with HLL's ~2% count error).
    EXACT BY CONSTRUCTION: a threshold filter is lossless whenever a
    group yields ≥ k distinct survivors (the true k smallest are all
    ≤ the k-th smallest survivor ≤ t); any group that yields fewer
    while filtered is recomputed unfiltered via a broadcast semi-join
    fallback (expected empty — the plan carries it lazily, no driver
    sync). Groups with n̂ ≤ margin·k skip the filter entirely."""
    arrays = _kmv_sketch_arrays(df, value_col, keys, k, salt, prefilter_margin)
    return arrays.select(
        *keys, F.posexplode(F.col("hs")).alias("_pos", "h")
    ).select(*keys, (F.col("_pos") + 1).alias("rank"), "h")


def _kmv_sketch_arrays(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    k: int,
    salt: str,
    prefilter_margin: int,
) -> DataFrame:
    """kmv_sketch's engine: per group the SORTED ARRAY `hs` of the k
    smallest distinct hashes (plus the group keys). One map-side-combined
    collect_set aggregation replaces the distinct shuffle + rank-window
    sort of the row formulation — the pre-filter bounds each group's set
    to ~margin·k elements, so the partial sets stay tiny — and the pair
    stage (kmv_pair_overlap) consumes the arrays directly, turning its
    per-pair union/rank/flag pipeline into single-stage array math."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(value_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    full = (1 << 32) - 1
    margin = prefilter_margin  # exposed so tests can force the fallback
    hashed = df.select(*keys, h.alias("h"))
    bounds = (
        df.groupBy(*keys)
        .agg(F.approx_count_distinct(value_col).alias("_n_est"))
        .select(
            *keys,
            F.when(F.col("_n_est") <= F.lit(margin * k), F.lit(full))
            .otherwise(
                F.least(
                    F.lit(full),
                    (F.lit(float(margin * k) * float(2**32)) / F.col("_n_est")).cast("long"),
                )
            )
            .alias("_h_bound"),
        )
    )
    filtered = hashed.join(F.broadcast(bounds), keys).filter(F.col("h") <= F.col("_h_bound"))

    def topk_agg(src: DataFrame) -> DataFrame:
        return src.groupBy(*keys).agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("hs"),
            F.size(F.collect_set("h")).alias("_got"),
        )

    agg = topk_agg(filtered)
    # groups whose filtered sketch came up short (possible only when the
    # bound actually cut something): recompute those exactly, unfiltered.
    # Derived from `bounds` (ALL groups), not from `agg` — a group whose
    # filter cut every row would be absent from `agg` entirely and an
    # agg-derived check would silently drop it instead of falling back.
    unsafe = (
        bounds.filter(F.col("_h_bound") < full)
        .join(agg.select(*keys, "_got"), list(keys), "left")
        .filter(F.coalesce(F.col("_got"), F.lit(0)) < k)
        .select(*keys)
    )
    safe = agg.join(F.broadcast(unsafe), list(keys), "left_anti").select(*keys, "hs")
    # Fallback arm (expected empty; triggers only when n̂ badly
    # overestimated a filtered group): distinct + rank-window, NOT the
    # collect_set aggregation — the group being recomputed is UNFILTERED
    # and can be arbitrarily large, and a single collect_set buffer of
    # its whole distinct hash set would be an executor-OOM risk at
    # scale, while distinct and a window sort both spill. Off the hot
    # path by construction, so the extra exchange is irrelevant; only
    # the final ≤k-rows-per-group collect_list touches an in-memory
    # buffer. Same output: the k smallest distinct hashes, ascending.
    from pyspark.sql import Window

    fb_rows = (
        hashed.join(F.broadcast(unsafe), list(keys))
        .select(*keys, "h")
        .distinct()
        .withColumn(
            "_rk", F.row_number().over(Window.partitionBy(*keys).orderBy("h"))
        )
        .filter(F.col("_rk") <= k)
    )
    fb = fb_rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("h")).alias("hs")
    )
    return safe.unionByName(fb)


def kmv_pair_overlap(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Pairwise audience overlap between groups, estimated from KMV
    sketches and reported BESIDE the exact intersection (the
    estimator-vs-exact report shape): for each group pair (a < b), the
    union sketch's k smallest hashes U, ρ = |{u ∈ U present in both}|/k,
    est_intersection = ρ · n̂_union. Sketch rows per group are k — the
    pair stage joins k-row frames, never the data. Exact arm: one
    distinct + self-join on the value, for the report only (at 100 TB
    you run sketches precisely to avoid it).

    Determinism: hashes are exact integers; ρ and the estimates are
    single divisions/products of exact integers — engine-identical."""
    # the sketch is one ARRAY row per group but its SUBTREE is the whole
    # corpus pass (count pre-filter + collect_set agg + fallback); the
    # pair stage reads it from both self-join sides, so materialize it
    # ONCE (lazy localCheckpoint — the self-join-subtree rule). The mark
    # happens in an AQE-off clone that only this call uses
    # (session.loop_session): under AQE, localCheckpoint(eager=False)
    # executes every shuffle stage of the sketch subtree at mark time,
    # one driver-scheduled job each (~12 jobs per bf_kmv_overlap — the
    # _cc_distributed lesson, dedup.py). Marked statically, the subtree
    # runs as a couple of jobs when the pair stage first reads it; plan
    # and rows unchanged, and the caller's own conf is never touched.
    from blueflood_spark.session import loop_session, rebind

    spark = df.sparkSession
    child = loop_session(spark)
    sk = rebind(
        _kmv_sketch_arrays(df, value_col, [group_col], k, salt, prefilter_margin=4),
        child,
    ).localCheckpoint(eager=False)
    # the pair stage below plans in the CALLER's session (AQE and all),
    # exactly as it did post-restore before
    sk = rebind(sk, spark)
    a = sk.select(F.col(group_col).alias("grp_a"), F.col("hs").alias("hs_a"))
    b = sk.select(F.col(group_col).alias("grp_b"), F.col("hs").alias("hs_b"))
    # per pair, the union sketch U = k smallest of the two sketches'
    # hashes, then membership flags — all single-stage array math over
    # one row per group pair (the sketches ARE k-element arrays)
    uk = F.slice(F.array_sort(F.array_distinct(F.concat("hs_a", "hs_b"))), 1, k)
    agg = (
        a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
        .select("grp_a", "grp_b", "hs_a", "hs_b", uk.alias("uk"))
        .select(
            "grp_a",
            "grp_b",
            F.size("uk").cast("long").alias("k_used"),
            F.size(
                F.array_intersect(F.array_intersect("uk", "hs_a"), "hs_b")
            ).cast("long").alias("n_both"),
            F.element_at("uk", -1).alias("h_k"),
        )
    )
    # exact intersection for the report
    dv = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v")).distinct()
    exact = (
        dv.alias("x")
        .join(dv.alias("y"), (F.expr("x.v = y.v")) & (F.expr("x.g < y.g")))
        .select(F.expr("x.g").alias("grp_a"), F.expr("y.g").alias("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    # saturated sketch (k_used < k): the union sketch holds the WHOLE
    # union, so k_used IS the exact distinct count — the (k−1)·2³²/h_k
    # tail estimator would bias small groups
    est_union = F.when(F.col("k_used") < F.lit(k), F.col("k_used").cast("double")).otherwise(
        (F.col("k_used") - 1).cast("double") * F.lit(float(2**32)) / F.col("h_k")
    )
    return (
        agg.join(exact, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            "k_used",
            "n_both",
            "h_k",
            F.coalesce("exact_intersection", F.lit(0)).alias("exact_intersection"),
            (F.col("n_both").cast("double") / F.col("k_used") * est_union).alias(
                "est_intersection"
            ),
        )
    )


def kmv_pair_overlap_sql(
    source: str,
    value_expr: str,
    group_expr: str,
    k: int = 64,
    salt: str = "kmv",
) -> str:
    """DuckDB twin of kmv_pair_overlap over `source` (a FROM-able).

    The hashed CTE is built directly over the dv alias `v` (never by
    textual substitution of value_expr, which corrupts silently when
    value_expr appears as a substring elsewhere in the expression)."""
    h_v = f"CAST(('0x' || substr(md5('{salt}' || CAST(v AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"""
WITH dv AS (SELECT DISTINCT {group_expr} AS g, {value_expr} AS v FROM {source}),
hashed AS (SELECT DISTINCT g, {h_v} AS h FROM dv),
sk AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rank
  FROM hashed QUALIFY rank <= {k}
),
pairs AS (
  SELECT a.g AS grp_a, b.g AS grp_b
  FROM (SELECT DISTINCT g FROM sk) a JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g
),
uni AS (
  SELECT DISTINCT grp_a, grp_b, h FROM (
    SELECT p.grp_a, p.grp_b, s.h FROM pairs p JOIN sk s ON s.g = p.grp_a
    UNION ALL
    SELECT p.grp_a, p.grp_b, s.h FROM pairs p JOIN sk s ON s.g = p.grp_b
  )
),
uk AS (
  SELECT grp_a, grp_b, h,
         row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS urank
  FROM uni QUALIFY urank <= {k}
),
flagged AS (
  SELECT u.grp_a, u.grp_b, u.h,
         (sa.h IS NOT NULL AND sb.h IS NOT NULL) AS in_both
  FROM uk u
  LEFT JOIN sk sa ON sa.g = u.grp_a AND sa.h = u.h
  LEFT JOIN sk sb ON sb.g = u.grp_b AND sb.h = u.h
),
agg AS (
  SELECT grp_a, grp_b, count(*) AS k_used,
         CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         max(h) AS h_k
  FROM flagged GROUP BY 1, 2
),
exact AS (
  SELECT x.g AS grp_a, y.g AS grp_b, count(*) AS exact_intersection
  FROM dv x JOIN dv y ON x.v = y.v AND x.g < y.g
  GROUP BY 1, 2
)
SELECT a.grp_a, a.grp_b, CAST(a.k_used AS BIGINT) AS k_used, a.n_both, a.h_k,
       CAST(coalesce(e.exact_intersection, 0) AS BIGINT) AS exact_intersection,
       CAST(a.n_both AS DOUBLE) / a.k_used
         * (CASE WHEN a.k_used < {k} THEN CAST(a.k_used AS DOUBLE)
                 ELSE CAST(a.k_used - 1 AS DOUBLE) * 4294967296.0 / a.h_k END)
         AS est_intersection
FROM agg a LEFT JOIN exact e ON a.grp_a = e.grp_a AND a.grp_b = e.grp_b
"""
