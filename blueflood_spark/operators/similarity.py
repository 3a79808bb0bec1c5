"""Similarity search over embedding columns (array<float>).

Two tiers:
- `cosine_topk`: brute-force exact top-k — the correctness baseline. Dot
  products run JVM-side (zip_with/aggregate inside codegen); the candidate
  side is broadcast when it fits, so queries never shuffle the corpus.
- `lsh_topk`: random-hyperplane LSH — the 100 TB path. Hyperplane
  components are derived from md5 (engine-portable, no RNG state), each
  vector maps to a BANDS×band-bits signature, and candidates come from
  equi-joins on band buckets. Recall < 1 by construction; exactness is
  restored by re-ranking the candidate set with true cosine.

At cluster scale the corpus side would be bucketed-by-signature parquet so
repeated query batches co-locate without reshuffling.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _qualify(pred_sql: str, col: str, alias: str) -> str:
    """Qualify bare `col` references in a predicate with `alias.` —
    word-boundary regex (a plain str.replace corrupts predicates where
    the column name is a substring of another identifier, and becomes a
    silent no-op if the spelling drifts; the ADVICE-flagged class).
    Raises when the predicate doesn't reference the column at all."""
    pat = _re.compile(rf"(?<![\w.]){_re.escape(col)}(?!\w)")
    out, n = pat.subn(f"{alias}.{col}", pred_sql)
    if n == 0:
        raise ValueError(f"predicate {pred_sql!r} does not reference {col!r}")
    return out

DIMS = 64
PLANES = 16  # total hyperplanes = signature bits
BANDS = 4  # bits per band = PLANES // BANDS


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(_dot(a, a))


def _cosine(a: str, b: str) -> F.Column:
    """Zero-norm-safe cosine: a zero vector has no direction, so its
    similarity to anything is 0 — the Util.safeDiv rule applied to
    vectors. Without the guard a single zero embedding (an empty doc is
    enough) kills the whole query under ANSI mode (DIVIDE_BY_ZERO) and
    diverges from DuckDB's inf/NaN. nullif→NULL→coalesce keeps the
    expression one codegen projection, no branch."""
    den = _norm(a) * _norm(b)
    return F.coalesce(_dot(a, b) / F.nullif(den, F.lit(0.0)), F.lit(0.0))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_q: str = "q_id",
    id_c: str = "c_id",
    emb_q: str = "q_emb",
    emb_c: str = "c_emb",
) -> DataFrame:
    """Exact brute-force cosine top-k of corpus per query row."""
    sims = (
        queries.crossJoin(F.broadcast(corpus))
        .filter(F.col(id_q) != F.col(id_c))
        .withColumn("cosine", _cosine(emb_q, emb_c))
    )
    w = Window.partitionBy(id_q).orderBy(F.col("cosine").desc(), F.col(id_c))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_q, id_c, "cosine", "rank")
    )


def _plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1), derived
    from md5 — reproducible in any engine, no RNG state to ship."""
    import hashlib

    h = int(hashlib.md5(f"plane_{p}_{d}".encode()).hexdigest()[:8], 16)
    return h / float(2**31) - 1.0


def plane_literals(planes: int = PLANES, dims: int = DIMS) -> list[list[float]]:
    return [[_plane_component(p, d) for d in range(dims)] for p in range(planes)]


def _signatures_pandas(emb: DataFrame, planes: list[list[float]], id_col: str, emb_col: str) -> DataFrame:
    """Signature bits via one numpy matmul per Arrow batch (BLAS) instead
    of planes_n interpreted fold expressions per row. Same float64 math;
    summation order differs immaterially (a bit flips only if a plane dot
    lands within ~1e-12 of zero)."""
    import numpy as np
    import pandas as pd

    plane_mat = np.array(planes, dtype=np.float64)  # (P, D)
    n_planes = len(planes)
    schema = f"{id_col} long, {emb_col} array<float>, " + ", ".join(
        f"bit_{p} int" for p in range(n_planes)
    )

    def batches(it):
        for pdf in it:
            mat = np.array(list(pdf[emb_col]), dtype=np.float64)
            if len(mat) == 0:
                yield pd.DataFrame(columns=[id_col, emb_col] + [f"bit_{p}" for p in range(n_planes)])
                continue
            # planes are generated at DIMS width; use the prefix matching the
            # data's dimensionality (zip semantics of the expression path)
            bits = (mat @ plane_mat[:, : mat.shape[1]].T > 0).astype("int32")  # (N, P)
            out = {id_col: pdf[id_col], emb_col: pdf[emb_col]}
            for p in range(n_planes):
                out[f"bit_{p}"] = bits[:, p]
            yield pd.DataFrame(out)

    return emb.select(id_col, emb_col).mapInPandas(batches, schema=schema)


def lsh_bucketed_topk(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    planes_n: int = PLANES,
    bands: int = BANDS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN: hyperplane-LSH band buckets for candidates, exact cosine
    re-rank. `query_filter` is a Column predicate selecting query rows."""
    planes = plane_literals(planes_n)
    bits_per_band = planes_n // bands
    sig = _signatures_pandas(emb, planes, id_col, emb_col)
    band_cols = [
        F.concat_ws(
            "", *[F.col(f"bit_{b * bits_per_band + r}").cast("string") for r in range(bits_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    # materialize the signature table once (lazily): both join sides and
    # the re-rank read it, and the 16 hyperplane dot products per row are
    # the expensive part — at scale this is "write the signature index"
    banded = sig.select(id_col, emb_col, *band_cols).localCheckpoint(eager=False)
    q = banded.filter(query_filter).select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).alias("q_emb"),
        *[F.col(f"band_{b}").alias(f"qband_{b}") for b in range(bands)],
    )
    c = banded.select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("c_emb"),
        *[F.col(f"band_{b}") for b in range(bands)],
    )
    # ONE equi-join on (band_idx, band_value) instead of a join per band:
    # the per-band loop launched `bands` broadcast joins over the whole
    # signature table (bands × partitions task launches of pure overhead
    # at any scale — 384 tasks at the bench SF). Exploding the band
    # columns to rows keeps the corpus side map-only (the query side is
    # tiny and broadcast), and the only shuffle is the candidate dedup.
    q_expl = q.select(
        "q_id",
        "q_emb",
        F.posexplode(F.array(*[F.col(f"qband_{b}") for b in range(bands)])).alias(
            "band_idx", "band_val"
        ),
    )
    c_expl = c.select(
        "c_id",
        "c_emb",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_idx", "band_val"
        ),
    )
    cands = (
        c_expl.join(F.broadcast(q_expl), ["band_idx", "band_val"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "c_id", "c_emb")
        .dropDuplicates(["q_id", "c_id"])
    )
    # re-rank with exact cosine; norms factored out of the per-pair work
    scored = cands.withColumn("cosine", _cosine("q_emb", "c_emb"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def lsh_bucketed_topk_sql(
    query_pred_sql: str,
    k: int = 10,
    planes_n: int = PLANES,
    bands: int = BANDS,
) -> str:
    """DuckDB twin of lsh_bucketed_topk, generated from the same plane
    constants."""
    planes = plane_literals(planes_n)
    bits_per_band = planes_n // bands
    bit_exprs = ",\n         ".join(
        "CASE WHEN list_sum(list_transform(list_zip(embedding, ["
        + ", ".join(repr(x) for x in plane)
        + f"]), p -> CAST(p[1] AS DOUBLE) * p[2])) > 0 THEN 1 ELSE 0 END AS bit_{p}"
        for p, plane in enumerate(planes)
    )
    band_exprs = ",\n       ".join(
        " || ".join(f"CAST(bit_{b * bits_per_band + r} AS VARCHAR)" for r in range(bits_per_band))
        + f" AS band_{b}"
        for b in range(bands)
    )
    unions = "\nUNION\n".join(
        f"SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.vec_id AS c_id, c.embedding AS c_emb "
        f"FROM banded q JOIN banded c ON q.band_{b} = c.band_{b} "
        f"AND q.vec_id != c.vec_id AND ({_qualify(query_pred_sql, 'vec_id', 'q')})"
        for b in range(bands)
    )
    return f"""
WITH sig AS (
  SELECT vec_id, embedding,
         {bit_exprs}
  FROM embeddings
),
banded AS (
  SELECT vec_id, embedding,
       {band_exprs}
  FROM sig
),
cand AS (
  SELECT DISTINCT q_id, q_emb, c_id, c_emb FROM (
{unions}
  )
),
scored AS (
  SELECT q_id, c_id,
         coalesce(list_sum(list_transform(list_zip(q_emb, c_emb),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / nullif(sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0) AS cosine
  FROM cand
),
ranked AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, cosine, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {k}
"""


def _ivf_cent_row(
    emb: DataFrame, n_lists: int, id_col: str, emb_col: str
) -> DataFrame:
    """The coarse-quantizer centroids as ONE broadcastable row: a
    cid-ordered array of (cid, cvec, norm) structs."""
    cents = emb.filter(F.col(id_col) < n_lists).select(
        F.col(id_col).alias("cent_id"),
        F.col(emb_col).alias("cent_emb"),
        _norm(emb_col).alias("cn"),  # centroid norm computed ONCE, not per pair
    )
    return cents.agg(
        F.expr("array_sort(collect_list(struct(cent_id AS cid, cent_emb AS cvec, cn)))").alias(
            "cent_arr"
        )
    )


def _ivf_ranked(
    emb: DataFrame, n_lists: int, id_col: str, emb_col: str, cent_row=None
) -> DataFrame:
    """Coarse-quantizer assignment shared by ivf_topk / ivfpq_topk, as a
    MAP-ONLY pass (the kmeans_assign shape): all centroids travel as one
    broadcast row holding a cid-ordered array of (cid, cvec, norm), and
    every vector sorts its per-centroid cosines in the projection —
    no n×k row expansion and no rank-window shuffle of embedding-
    carrying rows. Adds a `cent_ranked ARRAY<STRUCT<s, cid>>` column
    ordered (sim DESC, cid ASC) — exactly the window ordering it
    replaces, with the same dot/norm/division IEEE ops, so assignments
    are bit-equal to the row_number formulation.

    cent_row: pass a prebuilt/memoized _ivf_cent_row frame to share the
    trained artifact across calls (ivfpq_topk does); None (the default)
    derives it inline — the identical plan every pre-r7 caller had."""
    if cent_row is None:
        cent_row = _ivf_cent_row(emb, n_lists, id_col, emb_col)
    return (
        emb.crossJoin(F.broadcast(cent_row))
        .withColumn("vn", _norm(emb_col))
        .withColumn(
            "cent_ranked",
            F.expr(
                "array_sort(transform(cent_arr, c -> struct("
                f"coalesce(aggregate(zip_with({emb_col}, c.cvec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " 0D, (acc, v) -> acc + v) / nullif(vn * c.cn, 0D), 0D) AS s, c.cid AS cid)), "
                "(l, r) -> CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 "
                "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END)"
            ),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cand_filter=None,
) -> DataFrame:
    """IVF-flat ANN: corpus partitioned into inverted lists by nearest
    centroid; queries probe only their n_probe closest lists, then exact
    cosine re-ranks the candidates.

    The coarse quantizer is deterministic (centroids = the first n_lists
    vectors by id — a fixed codebook, the way a trained quantizer would be
    shipped as a broadcast artifact). At 100 TB the corpus would be
    WRITTEN bucketed by list_id so a probe reads only its lists'
    partitions; here the assignment join plays that role.

    `cand_filter` (optional Column) is FILTERED vector search with
    PRE-filter semantics: the metadata predicate prunes the inverted
    lists BEFORE the probe join, so every query still receives its full
    k from the surviving candidates — post-filtering the top-k instead
    silently under-fills when the predicate is selective. On a bucketed
    on-disk layout the predicate reaches the parquet list scan as an
    ordinary pushed filter."""
    ranked = _ivf_ranked(emb, n_lists, id_col, emb_col)
    members = ranked.withColumn("cent_id", F.expr("cent_ranked[0].cid"))
    if cand_filter is not None:
        members = members.filter(cand_filter)
    lists = members.select(
        F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"), F.col("cent_id").alias("list_id")
    )
    probes = (
        ranked.filter(query_filter)
        .select(
            F.col(id_col).alias("q_id"),
            F.col(emb_col).alias("q_emb"),
            F.explode(F.expr(f"slice(cent_ranked, 1, {int(n_probe)})")).alias("pr"),
        )
        .select("q_id", "q_emb", F.col("pr.cid").alias("list_id"))
    )
    # each corpus vector lives in exactly ONE list and each (query, list)
    # probe is unique, so the join already yields distinct (q_id, c_id)
    # pairs — no dedup shuffle needed (unlike LSH's overlapping bands)
    cands = (
        lists.join(F.broadcast(probes), "list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", _cosine("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def ivf_topk_sql(
    query_pred_sql: str,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    cand_pred_sql: str = "TRUE",
) -> str:
    """DuckDB twin of ivf_topk (same fixed codebook and probe discipline;
    `cand_pred_sql` mirrors the pre-filter on the inverted lists)."""
    cos = (
        "coalesce(list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / nullif(sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0)"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings WHERE vec_id < {n_lists}
),
ranked AS (
  SELECT e.vec_id, e.embedding, e.label, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos.format(a="e.embedding", b="c.cent_emb")} DESC, c.cent_id) AS cent_rank
  FROM embeddings e CROSS JOIN cents c
),
lists AS (
  SELECT vec_id AS c_id, embedding AS c_emb, cent_id AS list_id
  FROM ranked WHERE cent_rank = 1 AND ({cand_pred_sql})
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS list_id
  FROM ranked WHERE ({query_pred_sql}) AND cent_rank <= {n_probe}
),
cands AS (
  SELECT DISTINCT q_id, q_emb, c_id, c_emb
  FROM probes JOIN lists USING (list_id)
  WHERE q_id != c_id
),
scored AS (
  SELECT q_id, c_id, {cos.format(a="q_emb", b="c_emb")} AS cosine FROM cands
),
out AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, cosine, CAST(rank AS INTEGER) AS rank FROM out WHERE rank <= {k}
"""


def _near_dup_block_count(spark, n: int, target_block_rows: int) -> int:
    """Block count B for embedding_near_dups' tile sweep. Tiles are sized
    so a pair of blocks fits comfortably in one task's memory; from 16k
    rows on, B is floored so there are enough tiles to keep every core
    busy: smallest B with B(B+1)/2 >= defaultParallelism (B=8 → 36 tiles
    on 32 cores). The floor is skipped when the parallelism is unreadable
    (Connect mode / API drift)."""
    import math

    n_blocks = max(1, math.ceil(n / target_block_rows))
    if n >= 16_384:
        try:
            par = spark.sparkContext.defaultParallelism
        except Exception:  # Connect mode / API drift
            return n_blocks
        b_min = math.ceil((math.sqrt(8 * par + 1) - 1) / 2)
        n_blocks = max(n_blocks, b_min)
    return n_blocks


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_blocks: int | None = None,
    target_block_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup by semantic identity).

    EXACT and fully distributed: the corpus is hashed into B blocks and
    each of the B(B+1)/2 unordered block tiles runs one BLAS matmul
    inside a grouped applyInPandas kernel — Arrow batches in, qualifying
    pairs out. ONE pass, ONE exchange (r11, guide §2.3/§2.4): every
    vector explodes JVM-side into its B tile memberships tagged with a
    side (left / right / both-for-the-diagonal), so a single groupBy
    replaces the previous cogroup shape — which scanned the corpus
    twice, shuffled it through two round-robin fan-outs plus two hash
    exchanges, and built two broadcasts from a driver-created Python-RDD
    tile relation (r10 plan dump: 24 nodes; now 10). Nothing ever
    transits the driver, per-task memory is bounded by two blocks of
    target_block_rows vectors plus a chunked score tile, and the
    replication factor is B per vector — the unavoidable cost of exact
    all-pairs. When the corpus is big enough that the matmul dominates
    (≥16k rows) the block count is floored so the tile sweep spreads
    over the cluster instead of running as a handful of straggler tasks
    (guide §2.2: partitioning derived from size, not a constant).

    PRODUCTION ROUTING: this operator is the EXACTNESS ORACLE for the
    near-dup family — its O(n²) tile sweep is the documented >3× grower
    in the sf1 probe and does not survive a 100× scale-up. At corpus
    scale use `semdedup` (cluster-bounded pairwise, arXiv:2303.09540)
    or prefilter candidates with `lsh_bucketed_topk`'s band buckets and
    exact-verify only those; keep this kernel for recall measurement on
    sampled blocks."""
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        # count() is an aggregate-only job (no data to the driver)
        n_blocks = _near_dup_block_count(emb.sparkSession, emb.count(), target_block_rows)
    n_blocks = int(n_blocks)
    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(emb_col).alias("vemb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # tile memberships of a vector in block b: left side of tiles (b, j)
    # for j > b, right side of (i, b) for i < b, and one 'both' row (side
    # 2) for the diagonal (b, b). All JVM expressions — no driver-side
    # tile relation, no broadcast. The right-side list is built as
    # filter(transform(...)) rather than an IF(.., array(), ..) so the
    # empty case (b = 0) keeps the struct element type.
    memb = (
        f"concat("
        f"transform(sequence(blk, {n_blocks - 1}), j -> "
        f"struct(blk AS ta, CAST(j AS INT) AS tb, IF(j = blk, 2, 0) AS side)), "
        f"filter(transform(sequence(0, blk), i -> "
        f"struct(CAST(i AS INT) AS ta, blk AS tb, 1 AS side)), s -> s.ta < blk))"
    )
    tagged = base.select(
        F.explode(F.expr(memb)).alias("m"), "vid", "vemb"
    ).select(
        F.col("m.ta").alias("ta"),
        F.col("m.tb").alias("tb"),
        F.col("m.side").alias("side"),
        "vid",
        "vemb",
    )

    def tile_kernel(key, pdf):
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        side = pdf["side"].to_numpy()
        lpdf = pdf[side != 1]
        rpdf = pdf[side != 0]
        if lpdf.empty or rpdf.empty:
            return empty
        l_ids = lpdf["vid"].to_numpy(dtype=np.int64)
        r_ids = rpdf["vid"].to_numpy(dtype=np.int64)
        l_mat = np.array(list(lpdf["vemb"]), dtype=np.float64)
        r_mat = np.array(list(rpdf["vemb"]), dtype=np.float64)
        l_norm = np.sqrt((l_mat * l_mat).sum(axis=1))
        r_norm = np.sqrt((r_mat * r_mat).sum(axis=1))
        diag = key[0] == key[1]
        # chunk the left rows so the score tile is bounded (~256 MB of
        # float64) regardless of block sizing — guide §5: per-task state
        # stays flat even if target_block_rows is raised
        step = max(1, 32_000_000 // max(1, len(r_ids)))
        outs = []
        for lo in range(0, len(l_ids), step):
            sl = slice(lo, lo + step)
            sims = (l_mat[sl] @ r_mat.T) / np.outer(l_norm[sl], r_norm)
            li, ri = np.nonzero(sims >= threshold)
            a, b, c = l_ids[sl][li], r_ids[ri], sims[li, ri]
            if diag:
                keep = a < b  # diagonal tile sees both orderings; keep one
                a, b, c = a[keep], b[keep], c[keep]
            else:
                lo_id = np.minimum(a, b)
                hi_id = np.maximum(a, b)
                a, b = lo_id, hi_id
            outs.append(pd.DataFrame({"id_a": a, "id_b": b, "cosine": c}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return tagged.groupby("ta", "tb").applyInPandas(
        tile_kernel, schema="id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# deterministic k-means (semantic clustering for data curation)
# ---------------------------------------------------------------------------

def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    clustering step of SemDeDup-style semantic curation (cluster, then
    keep representatives per cluster).

    Everything that normally makes distributed k-means irreproducible is
    pinned: seeds are the k lowest ids' vectors (no rand()), the argmin
    tie-breaks on centroid id via a lexicographic (d, cid) struct-min,
    and the centroid update sums members IN ID ORDER via a sorted-fold —
    so two engines (or two cluster layouts) produce bit-identical
    centroids and assignments. The ordered fold is the exactness device
    for the oracle gate; a production run can swap it for a plain sum()
    and tolerate ulp drift.

    Scale shape per iteration: ASSIGNMENT IS MAP-ONLY — the k centroids
    travel as ONE broadcast row holding a cid-ordered array, and each
    vector computes its k distances and takes array_min(struct(d, cid))
    in the projection. No k-fold row expansion, no argmin shuffle (the
    first formulation exploded n×k pair rows through a groupBy and spent
    ~40% of its runtime there — 2.1s → 1.4s at sf0.1, bit-identical
    output). The update is one explode-by-position aggregation
    (n·dim rows → k·dim groups). Iterations are unrolled into one DAG.
    All loop bodies are single-parse F.expr strings: building the same
    lambdas through the Python Column API cost ~1.1s of py4j round
    trips per call at toy scale.
    """
    # same IEEE op sequence as a sequential fold over zip_with: squared
    # deltas accumulated ascending j — keep in lockstep with the twin
    # cid travels INSIDE the struct, never as the transform index: if a
    # cluster empties during an iteration (e.g. duplicate seed vectors —
    # the lower cid wins every tie and the higher one loses all members),
    # cent_arr shrinks and positions no longer equal cluster ids
    argmin = (
        "array_min(transform(cent_arr, c -> struct("
        f"aggregate(zip_with({vec_col}, c.cvec, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0D, (acc, v) -> acc + v) AS d, c.cid AS cid)))"
    )
    cent_row = _trained_centroid_row(emb, k, iterations, id_col, vec_col, argmin)
    # final assignment under the last update, so the output reflects
    # `iterations` full Lloyd steps
    return (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent_row))
        .withColumn("m", F.expr(argmin))
        .select(id_col, F.col("m.cid").alias("cluster_id"), F.col("m.d").alias("sq_dist"))
    )


# (applicationId, analyzed-plan semanticHash of emb, k, iterations, cols) →
# the trained one-row centroid frame, lazily materialized. The Lloyd's
# DAG is the single most re-run subtree in the suite — kmeans_clusters,
# silhouette, embedding_outliers, and semdedup all train the SAME
# centroids over the same input. In production a trained quantizer is an
# ARTIFACT (computed once, broadcast everywhere — exactly how the IVF
# codebook persists under _codebook/); this memo is the in-session form
# of that artifact, keyed by the analyzed plan so a different input or
# hyperparameters never collide. Results are bit-identical by
# construction: the memo stores the same deterministic frame the inline
# DAG would rebuild.
#
# STATIC-INPUT ASSUMPTION (same as dedup._SIGNATURE_CACHE): semanticHash
# keys the PLAN, not the data files — an in-session append to a path the
# memo already trained on silently returns stale centroids. Call
# clear_centroid_cache() after mutating such a path. The checkpointed
# frame also carries truncated lineage (single-JVM-session tradeoff; at
# cluster scale persist the codebook like build_ivf_index does).
_CENTROID_CACHE: dict[tuple, DataFrame] = {}


def clear_centroid_cache() -> None:
    """Drop memoized trained-centroid frames — call after appending/
    overwriting files behind an embeddings path already trained on this
    session (the semanticHash key cannot see data-file changes)."""
    _CENTROID_CACHE.clear()


def _centroid_cache_get(key: tuple | None) -> DataFrame | None:
    """Shared memo read: every cache key leads with the application id,
    so ANY read first sweeps entries whose app is no longer this one —
    dead sessions' checkpointed frames and py4j refs would otherwise
    accumulate in a process whose only entry points are PQ/IVFPQ (the
    r8 ADVICE finding: only the k-means writer used to run the sweep)."""
    if key is None:
        return None
    for stale in [s for s in _CENTROID_CACHE if s[0] != key[0]]:
        del _CENTROID_CACHE[stale]
    return _CENTROID_CACHE.get(key)


def _centroid_cache_put(key: tuple | None, row: DataFrame) -> DataFrame:
    if key is not None:
        _CENTROID_CACHE[key] = row
    return row


def _trained_centroid_row(
    emb: DataFrame, k: int, iterations: int, id_col: str, vec_col: str, argmin: str
) -> DataFrame:
    spark = emb.sparkSession
    try:
        key = (
            spark.sparkContext.applicationId,
            emb._jdf.queryExecution().analyzed().semanticHash(),
            k,
            iterations,
            id_col,
            vec_col,
        )
    except Exception:  # Connect or API drift: train inline, skip the memo
        key = None
    hit = _centroid_cache_get(key)
    if hit is not None:
        return hit

    from pyspark.sql import Window

    w = Window.orderBy(id_col)
    cents = (
        emb.orderBy(id_col)
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("cid"), F.col(vec_col).alias("cvec"))
    )

    def as_row(c: DataFrame) -> DataFrame:
        # one row, cid-ordered array of (cid, cvec) structs
        return c.agg(
            F.expr("array_sort(collect_list(struct(cid, cvec)))").alias("cent_arr")
        )

    for _ in range(iterations):
        assign = (
            emb.select(id_col, vec_col)
            .crossJoin(F.broadcast(as_row(cents)))
            .withColumn("m", F.expr(argmin))
            .select(id_col, F.col("m.cid").alias("cid"), vec_col)
        )
        by_pos = assign.select(
            "cid", id_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        sums = by_pos.groupBy("cid", "pos").agg(
            F.expr(
                f"aggregate(array_sort(collect_list(struct({id_col} AS i, val AS v))), "
                "0D, (acc, s) -> acc + CAST(s.v AS DOUBLE))"
            ).alias("s"),
            F.count("*").alias("n"),
        )
        cents = sums.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s / n AS mean))), s -> s.mean)"
            ).alias("cvec")
        )
    cent_row = as_row(cents).localCheckpoint(eager=False)
    return _centroid_cache_put(key, cent_row)


def kmeans_assign_sql(k: int = 8, iterations: int = 2) -> str:
    """Unrolled DuckDB twin: same seeds, same ordered-fold update, same
    struct-min argmin — independent SQL, shared determinism contract."""
    seed = f"""
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {k}
)"""
    dist = (
        "list_sum(list_transform(list_zip(e.embedding, c.cvec), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
    parts = ["WITH " + seed.strip()]
    prev = "seeds"
    for it in range(iterations):
        parts.append(f"""
a{it} AS (
  SELECT vec_id, min(struct_pack(d := {dist}, cid := c.cid)) AS m
  FROM embeddings e CROSS JOIN {prev} c
  GROUP BY vec_id
)""".strip())
        parts.append(f"""
u{it} AS (
  SELECT a.m.cid AS cid, generate_subscripts(e.embedding, 1) AS pos,
         unnest(e.embedding) AS val, e.vec_id
  FROM a{it} a JOIN embeddings e USING (vec_id)
)""".strip())
        parts.append(f"""
s{it} AS (
  SELECT cid, pos,
         list_sum(list_transform(list(CAST(val AS DOUBLE) ORDER BY vec_id), x -> x)) AS s,
         count(*) AS n
  FROM u{it} GROUP BY cid, pos
)""".strip())
        parts.append(f"""
c{it} AS (
  SELECT cid, list(s / n ORDER BY pos) AS cvec
  FROM s{it} GROUP BY cid
)""".strip())
        prev = f"c{it}"
    body = ",\n".join(parts)
    return f"""{body}
SELECT vec_id, m.cid AS cluster_id, m.d AS sq_dist
FROM (
  SELECT vec_id, min(struct_pack(d := {dist}, cid := c.cid)) AS m
  FROM embeddings e CROSS JOIN {prev} c
  GROUP BY vec_id
)
"""


# ---- Product quantization (PQ) ------------------------------------------
# The memory-scale path for ANN: each DIMS-dim float vector compresses to
# M_SUB one-byte codes (here 64 floats -> 8 codes, 32x), and queries score
# candidates with an asymmetric-distance (ADC) table lookup instead of
# touching raw vectors. Codebook discipline matches ivf_topk: centroids =
# the first KS_PQ vectors by id, standing in for a trained artifact that
# would ship as a broadcast file.

M_SUB = 8                 # subspaces
SUB_DIM = DIMS // M_SUB   # dims per subspace
KS_PQ = 16                # codes per subspace


def _sub_l2sq_col(a: F.Column, b: F.Column, s: int) -> F.Column:
    """Squared L2 between subspace s of two vectors — an ordered fold
    (deterministic summation on both engines); column args so it
    composes inside lambdas over a codebook array."""
    lo = s * SUB_DIM + 1
    diff2 = F.zip_with(
        F.slice(a, lo, SUB_DIM),
        F.slice(b, lo, SUB_DIM),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)


def _pq_codebook(emb: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Codebook = the KS_PQ smallest-id vectors, each tagged with its
    dense 0-based POSITION (cb_pos). Codes are positions, never raw id
    values — sparse or offset id spaces (ids starting at 1, deleted ids)
    cannot misalign the ADC table lookup."""
    w = Window.orderBy(id_col)
    return (
        emb.orderBy(id_col)
        .limit(KS_PQ)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cb_pos"),
            F.col(emb_col).alias("cb_emb"),
        )
    )


def _pq_cb_row(emb: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Codebook collapsed to ONE row holding a position-ordered array of
    (c, v) structs — the broadcastable artifact every PQ consumer
    (encode, query distance tables, IVFPQ coded lists) shares. Array
    order IS cb_pos order (array_sort on the leading int), so
    element_at(cb, pos + 1) and transform(cb, ...) walk positions
    0..KS_PQ-1 exactly.

    Memoized per (session, input plan) in _CENTROID_CACHE — a PQ
    codebook is a trained ARTIFACT exactly like the k-means centroids
    (same static-input caveat; clear_centroid_cache() after mutating a
    path already trained on). The memoized frame carries a lazy
    localCheckpoint so repeat consumers skip the
    TakeOrderedAndProject + window jobs that derive it."""
    try:
        # key[0] MUST be the applicationId — _trained_centroid_row's
        # stale-session eviction compares s[0] against the live appId
        key = (
            emb.sparkSession.sparkContext.applicationId,
            "pqcb",
            emb._jdf.queryExecution().analyzed().semanticHash(),
            id_col,
            emb_col,
        )
    except Exception:  # Connect or API drift: build inline, skip the memo
        key = None
    hit = _centroid_cache_get(key)
    if hit is not None:
        return hit
    row = _pq_codebook(emb, id_col, emb_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cb_pos").alias("c"), F.col("cb_emb").alias("v")))
        ).alias("cb")
    ).localCheckpoint(eager=False)
    return _centroid_cache_put(key, row)


_PQ_CENTS_SQL = """
  SELECT CAST(row_number() OVER (ORDER BY {id}) - 1 AS INTEGER) AS cb_pos,
         embedding AS cb_emb
  FROM (SELECT * FROM embeddings ORDER BY {id} LIMIT {ks})
"""


def pq_encode(emb: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """PQ codes per vector: for each of M_SUB subspaces, the POSITION of
    the nearest codebook centroid (squared L2, ties to the lowest
    position).

    ZERO corpus shuffles: the KS_PQ-row codebook collapses to a single
    broadcast array row, and each vector computes all M_SUB argmins as a
    pure projection — array_min over (dist, position) structs built by an
    index-aware lambda over the codebook array. The corpus is never
    repartitioned; at 100 TB the encode is a map-only pass emitting
    8 bytes/vector."""
    cb = _pq_cb_row(emb, id_col, emb_col)
    out = emb.select(id_col, emb_col).crossJoin(F.broadcast(cb))
    codes = [
        F.array_min(
            F.transform(
                F.col("cb"),
                lambda x, i: F.struct(
                    _sub_l2sq_col(F.col(emb_col), x["v"], s).alias("d"),
                    i.cast("int").alias("c"),
                ),
            )
        )["c"].alias(f"code_{s}")
        for s in range(M_SUB)
    ]
    return out.select(id_col, *codes)


def pq_encode_sql(id_col: str = "vec_id") -> str:
    subs = []
    for s in range(M_SUB):
        lo = s * SUB_DIM + 1
        d = (
            f"list_sum(list_transform(list_zip(list_slice(e.embedding, {lo}, {lo + SUB_DIM - 1}),"
            f" list_slice(c.cb_emb, {lo}, {lo + SUB_DIM - 1})),"
            " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )
        subs.append(f"(min(struct_pack(d := {d}, c := c.cb_pos))).c AS code_{s}")
    cols = ",\n       ".join(subs)
    cents = _PQ_CENTS_SQL.format(id=id_col, ks=KS_PQ)
    return f"""
WITH cents AS ({cents})
SELECT e.{id_col},
       {cols}
FROM embeddings e CROSS JOIN cents c
GROUP BY e.{id_col}
"""


def pq_ann_topk(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over PQ codes: each query precomputes an M_SUB×KS_PQ
    distance table against the codebook (broadcast, KS_PQ rows), then a
    candidate's approximate distance is M_SUB table lookups summed in a
    fixed expression order — the corpus side is touched only through its
    codes, never its raw vectors. Output rank is ascending ADC distance
    (ties to the lower candidate id)."""
    codes = pq_encode(emb, id_col, emb_col)
    qtab = _pq_qtab(emb, query_filter, id_col, emb_col)
    adc = None
    for s in range(M_SUB):
        term = F.element_at(F.col(f"dtab_{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    pairs = (
        codes.withColumnRenamed(id_col, "c_id")
        .crossJoin(F.broadcast(qtab))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", adc)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc_dist", "rank")
    )


def pq_ann_topk_sql(query_pred_sql: str, k: int = 10, id_col: str = "vec_id") -> str:
    dtabs = []
    for s in range(M_SUB):
        lo = s * SUB_DIM + 1
        d = (
            f"list_sum(list_transform(list_zip(list_slice(q.embedding, {lo}, {lo + SUB_DIM - 1}),"
            f" list_slice(c.cb_emb, {lo}, {lo + SUB_DIM - 1})),"
            " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )
        dtabs.append(f"list({d} ORDER BY c.cb_pos) AS dtab_{s}")
    dtab_cols = ",\n         ".join(dtabs)
    adc = " + ".join(f"q.dtab_{s}[co.code_{s} + 1]" for s in range(M_SUB))
    codes_sql = pq_encode_sql(id_col)
    cents = _PQ_CENTS_SQL.format(id=id_col, ks=KS_PQ)
    return f"""
WITH codes AS ({codes_sql}),
cents AS ({cents}),
qtab AS (
  SELECT q.{id_col} AS q_id,
         {dtab_cols}
  FROM embeddings q CROSS JOIN cents c
  WHERE ({_qualify(query_pred_sql, id_col, 'q')})
  GROUP BY q.{id_col}
),
scored AS (
  SELECT q.q_id, co.{id_col} AS c_id, {adc} AS adc_dist
  FROM codes co CROSS JOIN qtab q
  WHERE q.q_id != co.{id_col}
),
out AS (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM out WHERE rank <= {k}
"""


def _l2sq_full(a: str, b: str) -> F.Column:
    """Full-vector squared L2 — ordered fold, deterministic on both engines."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0D, (acc, v) -> acc + v)"
    )


def pq_ann_rerank(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ ANN, the production shape: ADC over codes prunes the
    corpus to a `shortlist` per query (compressed-domain scan — the 100 TB
    stage), then ONLY the shortlist's raw vectors are fetched for an
    exact squared-L2 re-rank. The raw-vector fetch is a broadcast join of
    the tiny (queries × shortlist) candidate set against the corpus —
    the corpus is scanned, never shuffled."""
    cands = pq_ann_topk(emb, query_filter, k=shortlist, id_col=id_col, emb_col=emb_col).select(
        "q_id", "c_id"
    )
    qvec = emb.filter(query_filter).select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    withq = cands.join(F.broadcast(qvec), "q_id")
    cvec = emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
    scored = (
        cvec.join(F.broadcast(withq), "c_id")
        .withColumn("l2_dist", _l2sq_full("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("l2_dist").asc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "l2_dist", "rank")
    )


def pq_ann_rerank_sql(
    query_pred_sql: str, k: int = 10, shortlist: int = 50, id_col: str = "vec_id"
) -> str:
    inner = pq_ann_topk_sql(query_pred_sql, k=shortlist, id_col=id_col)
    l2 = (
        "list_sum(list_transform(list_zip(q.embedding, c.embedding),"
        " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
    return f"""
WITH shortlist AS ({inner}),
rescored AS (
  SELECT s.q_id, s.c_id, {l2} AS l2_dist
  FROM shortlist s
  JOIN embeddings q ON q.{id_col} = s.q_id
  JOIN embeddings c ON c.{id_col} = s.c_id
),
out2 AS (
  SELECT q_id, c_id, l2_dist,
         row_number() OVER (PARTITION BY q_id ORDER BY l2_dist ASC, c_id) AS rank
  FROM rescored
)
SELECT q_id, c_id, l2_dist, CAST(rank AS INTEGER) AS rank FROM out2 WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# scalar quantization (int8) — the storage-compression counterpart of PQ
# ---------------------------------------------------------------------------

def sq8_quantize(
    emb: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|x|/127,
    code_i = floor(x_i/scale + 0.5) clamped to [-127, 127] (half-up —
    portable across engines, unlike banker's rounding), plus the
    reconstruction-error report (per-vector MSE and max abs error of
    x ≈ code·scale). 4× smaller than float32 with per-vector scale, the
    standard first compression step before PQ in vector stores.

    Plan shape: map-only codegen expressions over the embedding column —
    NO shuffle, no UDF; at 100 TB this is a pure scan→project whose cost
    is the read itself. Zero vectors quantize to all-zero codes with
    scale 0 (guarded, no division by zero).
    """
    e = F.col(emb_col)
    scale = F.expr(
        f"aggregate({emb_col}, 0D, (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) / 127.0D"
    ).alias("scale")
    base = emb.select(F.col(id_col), e.alias("_e"), scale)
    codes = F.when(
        F.col("scale") == 0.0, F.expr("transform(_e, x -> 0)")
    ).otherwise(
        F.expr(
            "transform(_e, x -> CAST(greatest(-127.0D, least(127.0D,"
            " floor(CAST(x AS DOUBLE) / scale + 0.5D))) AS INT))"
        )
    )
    coded = base.withColumn("codes", codes)
    err = "zip_with(_e, codes, (x, c) -> CAST(x AS DOUBLE) - c * scale)"
    return coded.select(
        id_col,
        "scale",
        "codes",
        (F.expr(f"aggregate({err}, 0D, (a, v) -> a + v * v)") / F.size(F.col("_e"))).alias(
            "mse"
        ),
        F.expr(f"aggregate({err}, 0D, (a, v) -> greatest(a, abs(v)))").alias("max_abs_err"),
    )


def sq8_quantize_sql(id_col: str = "vec_id") -> str:
    """DuckDB twin — same half-up rounding, same single-division /
    fold-order arithmetic, so the error stats compare engine-to-engine."""
    return f"""
WITH base AS (
  SELECT {id_col}, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
),
coded AS (
  SELECT {id_col}, embedding, scale,
         CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
                     floor(CAST(x AS DOUBLE) / scale + 0.5))) AS INT))
         END AS codes
  FROM base
),
errs AS (
  SELECT {id_col}, scale, codes,
         list_transform(list_zip(embedding, codes),
                        p -> CAST(p[1] AS DOUBLE) - p[2] * scale) AS err,
         len(embedding) AS dims
  FROM coded
)
SELECT {id_col}, scale, codes,
       list_sum(list_transform(err, v -> v * v)) / dims AS mse,
       list_max(list_transform(err, v -> abs(v))) AS max_abs_err
FROM errs
"""


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
    dims: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-class embedding centroids + the pairwise cosine matrix between
    them — the collapse/coverage diagnostic a curation pipeline runs on a
    labeled (or clustered) corpus: near-1 centroid cosine means two
    classes are semantically indistinct.

    Centroid sums fold the members IN ID ORDER (the kmeans_assign
    discipline) instead of F.avg — partial aggregation's partition-order
    summation is not bit-stable across shuffles/engines, and this
    operator's output is an oracle-compared float. A production run can
    swap the ordered fold for plain avg() and tolerate ulp drift.

    Plan shape: ONE shuffle on the label key (via (label, pos) explode
    groups); the centroid table is #labels rows, so the pairwise join is
    a broadcast self-join of a frame that fits in a page. The corpus is
    scanned once and never shuffled as vectors."""
    by_pos = emb.select(
        label_col, id_col, F.posexplode(F.col(emb_col)).alias("pos", "val")
    )
    sums = by_pos.groupBy(label_col, "pos").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("val").alias("v")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["v"].cast("double"),
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cents = sums.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", (F.col("s") / F.col("n")).alias("mean")))),
            lambda s: s["mean"],
        ).alias("centroid"),
        F.max("n").alias("n_vectors"),
    )
    a = cents.select(
        F.col(label_col).alias("label_a"),
        F.col("centroid").alias("cent_a"),
        F.col("n_vectors").alias("n_a"),
    )
    b = cents.select(
        F.col(label_col).alias("label_b"),
        F.col("centroid").alias("cent_b"),
        F.col("n_vectors").alias("n_b"),
    )
    dot = F.expr(
        "aggregate(zip_with(cent_a, cent_b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    nrm = (
        "sqrt(aggregate(transform({c}, x -> x * x), 0D, (acc, v) -> acc + v))"
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.coalesce(
                dot
                / F.nullif(
                    F.expr(nrm.format(c="cent_a")) * F.expr(nrm.format(c="cent_b")),
                    F.lit(0.0),
                ),
                F.lit(0.0),
            ).alias(
                "centroid_cosine"
            ),
        )
    )


def label_centroids_sql(label_col: str = "label", dims: int = 64) -> str:
    """DuckDB twin: per-(label, dimension) sums folded in vec_id order —
    the same ordered-fold centroid arithmetic as the Spark side."""
    return f"""
WITH by_pos AS (
  SELECT {label_col} AS label, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
sums AS (
  SELECT label, pos,
         list_sum(list(CAST(val AS DOUBLE) ORDER BY vec_id)) AS s,
         count(*) AS n
  FROM by_pos GROUP BY label, pos
),
c AS (
  SELECT label, max(n) AS n_vectors, list(s / n ORDER BY pos) AS centroid
  FROM sums GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       a.n_vectors AS n_a, b.n_vectors AS n_b,
       coalesce(list_sum(list_transform(list_zip(a.centroid, b.centroid), p -> p[1] * p[2]))
         / nullif(sqrt(list_sum(list_transform(a.centroid, x -> x * x)))
            * sqrt(list_sum(list_transform(b.centroid, x -> x * x))), 0), 0) AS centroid_cosine
FROM c a JOIN c b ON a.label < b.label
"""


# ---------------------------------------------------------------------------
# SemDeDup — cluster-bounded semantic deduplication
# ---------------------------------------------------------------------------

def semdedup(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    corpus, then compare pairs ONLY within a cluster and prune any
    vector whose cosine to a lower-id cluster-mate reaches `threshold`
    — keep-lowest-id per near-duplicate neighborhood, the same
    ordering-based pruning rule the published implementation applies
    per cluster (it sorts the cluster and drops rows whose max
    similarity to an earlier row exceeds tau).

    Output: one row per vector — (vec_id, cluster_id, is_kept, n_dups,
    dup_of = smallest-id near neighbor, max_dup_cosine).

    Scale shape: this is THE published fix for embedding dedup's
    quadratic wall — candidate pairs are Σ |cluster|² instead of N².
    The pairwise stage is ONE shuffle on cluster_id into a grouped
    applyInPandas kernel that runs a single BLAS matmul per cluster
    and emits only the per-vector verdict — pairs never materialize as
    rows. (A pure-SQL self-join on cluster_id computes the same thing
    but evaluates three interpreted 64-element folds per pair inside
    an 8-way-parallel join — measured 10× slower at sf0.1; same lesson
    as embedding_near_dups' tile kernel.) At 100 TB, k grows with the
    corpus (√N-ish) so cluster sizes — and each task's n² matmul —
    stay bounded, and the clustered table is written bucketed by
    cluster_id so this stage reads co-located buckets shuffle-free.

    Float contract: the kernel's BLAS matmul sums in a different order
    than the DuckDB twin's left-fold, so a pair whose cosine lands
    within ~1e-15 of `threshold` could flip its verdict between
    engines — the same documented exposure embedding_near_dups' tile
    kernel carries (accepted since round 1; the alternative, per-pair
    fold expressions inside the join, measured 10× slower). Verdicts
    for pairs away from the threshold are deterministic."""
    import numpy as np
    import pandas as pd

    assign = kmeans_assign(emb, k=k, iterations=iterations, id_col=id_col, vec_col=emb_col)
    vecs = assign.join(emb.select(id_col, emb_col), id_col).select(
        id_col, "cluster_id", emb_col
    )

    def cluster_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf[id_col].to_numpy(dtype=np.int64)[order]
        mat = np.array(list(pdf[emb_col].iloc[order]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        n = len(ids)
        # row i vs strictly-lower-id mates j < i (ids are sorted)
        lower = np.tril(sims >= threshold, k=-1)
        n_dups = lower.sum(axis=1).astype(np.int64)
        pruned = n_dups > 0
        dup_of = pd.array(
            [ids[np.nonzero(lower[i])[0][0]] if pruned[i] else None for i in range(n)],
            dtype="Int64",
        )
        masked = np.where(lower, sims, -np.inf)
        max_cos = pd.array(
            [masked[i].max() if pruned[i] else None for i in range(n)], dtype="Float64"
        )
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"].iloc[0],
                "is_kept": ~pruned,
                "n_dups": n_dups,
                "dup_of": dup_of,
                "max_dup_cosine": max_cos,
            }
        )

    schema = (
        f"{id_col} long, cluster_id int, is_kept boolean, "
        "n_dups long, dup_of long, max_dup_cosine double"
    )
    return vecs.groupBy("cluster_id").applyInPandas(cluster_kernel, schema=schema)


def semdedup_sql(
    k: int = 8, iterations: int = 2, threshold: float = 0.35, id_col: str = "vec_id"
) -> str:
    """DuckDB twin: embeds the k-means twin as a nested-WITH CTE, then
    the same cluster-equi pairwise rule with ordered-fold cosine."""
    cos = (
        "coalesce(list_sum(list_transform(list_zip(a.embedding, b.b_emb),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / nullif(sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(b.b_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0)"
    )
    return f"""
WITH assign AS ({kmeans_assign_sql(k=k, iterations=iterations)}),
vecs AS (
  SELECT a.{id_col}, a.cluster_id, e.embedding
  FROM assign a JOIN embeddings e USING ({id_col})
),
pairs AS (
  SELECT a.{id_col}, b.b_id, {cos} AS c
  FROM vecs a
  JOIN (SELECT {id_col} AS b_id, cluster_id AS b_cluster, embedding AS b_emb FROM vecs) b
    ON a.cluster_id = b.b_cluster AND a.{id_col} > b.b_id
),
dup AS (
  SELECT {id_col},
         max(c) AS max_dup_cosine,
         count(*) AS n_dups,
         min(b_id) AS dup_of
  FROM pairs
  WHERE c >= {threshold}
  GROUP BY {id_col}
)
SELECT v.{id_col}, v.cluster_id,
       d.max_dup_cosine IS NULL AS is_kept,
       coalesce(d.n_dups, 0) AS n_dups,
       d.dup_of, d.max_dup_cosine
FROM vecs v LEFT JOIN dup d USING ({id_col})
"""


def semdedup_pairs(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup candidate near-duplicate PAIRS (Abbas et al. 2023,
    arXiv:2303.09540): k-means the corpus, then emit every within-cluster
    pair whose cosine reaches `threshold` as an (id_a, id_b) edge row
    (id_a < id_b) — the edge set a connected-components pass clusters
    into semantic-duplicate groups.

    Cross-cluster pairs are excluded BY DESIGN: bounding the pairwise
    stage to Σ|cluster|² instead of N² is SemDeDup's published
    scalability contract, and the exhaustive-recall measurement lives in
    embedding_near_dups (the documented O(n²) oracle kernel). This is
    the production pair generator for 100 TB corpora: one shuffle on
    cluster_id into a grouped BLAS kernel; at scale k grows ~√N so each
    task's matmul stays bounded, and a cluster_id-bucketed table makes
    the stage shuffle-free on re-runs.

    Same float contract as semdedup(): a pair within ~1e-15 of the
    threshold could flip between the BLAS matmul and the twin's ordered
    fold; verdicts away from the threshold are deterministic."""
    import numpy as np
    import pandas as pd

    assign = kmeans_assign(emb, k=k, iterations=iterations, id_col=id_col, vec_col=emb_col)
    vecs = assign.join(emb.select(id_col, emb_col), id_col).select(
        id_col, "cluster_id", emb_col
    )

    def pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf[id_col].to_numpy(dtype=np.int64)[order]
        mat = np.array(list(pdf[emb_col].iloc[order]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (mat @ mat.T) / np.where(denom > 0, denom, 1.0), 0.0)
        ii, jj = np.nonzero(np.triu(sims >= threshold, k=1))  # ids sorted ⇒ id_a < id_b
        return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj]})

    return vecs.groupBy("cluster_id").applyInPandas(pair_kernel, schema="id_a long, id_b long")


def semdedup_pairs_sql(
    k: int = 8, iterations: int = 2, threshold: float = 0.35, id_col: str = "vec_id"
) -> str:
    """DuckDB twin CTE body (un-wrapped): within-cluster pairs with
    ordered-fold cosine — compose as `WITH pairs AS ({this})`."""
    cos = (
        "coalesce(list_sum(list_transform(list_zip(a.embedding, b.b_emb),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / nullif(sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(b.b_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0)"
    )
    return f"""
WITH assign AS ({kmeans_assign_sql(k=k, iterations=iterations)}),
vecs AS (
  SELECT a.{id_col}, a.cluster_id, e.embedding
  FROM assign a JOIN embeddings e USING ({id_col})
)
SELECT a.{id_col} AS id_a, b.b_id AS id_b
FROM vecs a
JOIN (SELECT {id_col} AS b_id, cluster_id AS b_cluster, embedding AS b_emb FROM vecs) b
  ON a.cluster_id = b.b_cluster AND a.{id_col} < b.b_id
WHERE {cos} >= {threshold}
"""


# ---------------------------------------------------------------------------
# IVF-PQ — coarse inverted lists + compressed-domain ADC (FAISS IVFADC)
# ---------------------------------------------------------------------------

def _qtab_cols(emb_col: str) -> list:
    """The M_SUB per-query ADC distance-table columns as pure
    projections over the broadcast codebook-array row: dtab_s[p] =
    subspace-s squared-L2 between the query vector and codebook
    position p. transform() walks the cid-ordered cb array, so the
    table is position-ordered by construction — same values, same
    order, as the old crossJoin×KS_PQ → groupBy(collect_list →
    array_sort) formulation, with ZERO aggregation: building the
    tables is part of whatever projection consumes them, not a
    shuffle stage of its own."""
    return [
        F.transform(
            F.col("cb"), lambda x: _sub_l2sq_col(F.col(emb_col), x["v"], s)
        ).alias(f"dtab_{s}")
        for s in range(M_SUB)
    ]


def _pq_qtab(emb: DataFrame, query_filter, id_col: str, emb_col: str) -> DataFrame:
    """Per-query ADC distance tables: one row per query with M_SUB
    KS_PQ-wide arrays of subspace squared-L2s against the codebook —
    a map-only projection over the broadcast codebook row (shared by
    pq_ann_topk and ivfpq_topk)."""
    cb = _pq_cb_row(emb, id_col, emb_col)
    return (
        emb.filter(query_filter)
        .select(F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb"))
        .crossJoin(F.broadcast(cb))
        .select("q_id", *_qtab_cols("q_emb"))
    )


def ivfpq_topk(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN (the IVFADC index of Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — FAISS's workhorse):
    a coarse quantizer routes every vector into one of n_lists inverted
    lists, vectors are stored ONLY as M_SUB PQ codes, and a query (a)
    probes its n_probe nearest lists and (b) scores just those lists'
    members by ADC table lookup — compounding IVF's candidate pruning
    with PQ's 32× compression.

    Divergence from the paper: codes quantize the raw vector, not the
    residual (vector − coarse centroid); residual encoding refines
    accuracy but changes nothing about the distributed plan, and flat
    codes keep the codebook shared with pq_encode/pq_ann_topk.

    Scale shape: the coded-list table is (id, list_id, 8 one-byte
    codes) — at 100 TB it is written bucketed by list_id, so a probe
    scans only ~n_probe/n_lists of the codes and NEVER touches raw
    vectors; here the equi-join on list_id plays the bucket-pruning
    role. Distance tables are a per-query broadcast of M_SUB·KS_PQ
    doubles. Output contract matches pq_ann_topk: ascending ADC
    distance, ties to the lower candidate id."""
    # memoized trained artifacts (same cache/caveats as the k-means
    # centroid memo): the coarse-centroid row and the PQ codebook row
    # are checkpointed once per (session, input) — repeat calls skip
    # their derivation jobs entirely
    try:
        ck = (
            emb.sparkSession.sparkContext.applicationId,
            "ivfcent",
            emb._jdf.queryExecution().analyzed().semanticHash(),
            n_lists,
            id_col,
            emb_col,
        )
    except Exception:
        ck = None
    cent_row = _centroid_cache_get(ck)
    if cent_row is None:
        cent_row = _centroid_cache_put(
            ck, _ivf_cent_row(emb, n_lists, id_col, emb_col).localCheckpoint(eager=False)
        )
    ranked = _ivf_ranked(emb, n_lists, id_col, emb_col, cent_row=cent_row)
    # coded inverted lists: list routing + PQ codes in ONE projection of
    # the assignment frame (no second pass over the corpus)
    cb = _pq_cb_row(emb, id_col, emb_col)
    code_cols = [
        F.array_min(
            F.transform(
                F.col("cb"),
                lambda x, i: F.struct(
                    _sub_l2sq_col(F.col(emb_col), x["v"], s).alias("d"),
                    i.cast("int").alias("c"),
                ),
            )
        )["c"].alias(f"code_{s}")
        for s in range(M_SUB)
    ]
    coded_lists = (
        ranked.select(
            F.col(id_col).alias("c_id"),
            F.expr("cent_ranked[0].cid").alias("list_id"),
            emb_col,
        )
        .crossJoin(F.broadcast(cb))
        .select("c_id", "list_id", *code_cols)
    )
    # Fused query side (r7): probe routing AND the ADC distance tables
    # come out of ONE projection over the filtered assignment frame —
    # the query's cent_ranked yields its n_probe list ids (exploded)
    # and the broadcast codebook row yields its dtab arrays, so the
    # old separate probes frame + _pq_qtab frame (and the extra
    # broadcast + join gluing them back together on q_id) collapse
    # into a single (queries × n_probe)-row broadcast. One query-side
    # scan, zero aggregations, one corpus-side join.
    qx = (
        ranked.filter(query_filter)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col).alias("q_id"),
            F.explode(
                F.expr(f"transform(slice(cent_ranked, 1, {int(n_probe)}), p -> p.cid)")
            ).alias("list_id"),
            *_qtab_cols(emb_col),
        )
    )
    adc = None
    for s in range(M_SUB):
        term = F.element_at(F.col(f"dtab_{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    # pairs are already unique — each c_id lives in exactly one coded
    # list and each (q_id, list) probe is distinct — so no dedup shuffle
    cands = (
        coded_lists.join(F.broadcast(qx), "list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", adc)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc_dist", "rank")
    )


def ivfpq_topk_sql(
    query_pred_sql: str,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of ivfpq_topk: same coarse assignment, same flat-code
    PQ encode, same probe discipline and ADC arithmetic."""
    cos = (
        "coalesce(list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / nullif(sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0)"
    )
    code_exprs = []
    for s in range(M_SUB):
        lo = s * SUB_DIM + 1
        d = (
            f"list_sum(list_transform(list_zip(list_slice(l.embedding, {lo}, {lo + SUB_DIM - 1}),"
            f" list_slice(c.cb_emb, {lo}, {lo + SUB_DIM - 1})),"
            " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )
        code_exprs.append(f"(min(struct_pack(d := {d}, c := c.cb_pos))).c AS code_{s}")
    code_cols = ",\n         ".join(code_exprs)
    dtabs = []
    for s in range(M_SUB):
        lo = s * SUB_DIM + 1
        d = (
            f"list_sum(list_transform(list_zip(list_slice(q.embedding, {lo}, {lo + SUB_DIM - 1}),"
            f" list_slice(c.cb_emb, {lo}, {lo + SUB_DIM - 1})),"
            " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        )
        dtabs.append(f"list({d} ORDER BY c.cb_pos) AS dtab_{s}")
    dtab_cols = ",\n         ".join(dtabs)
    adc = " + ".join(f"q.dtab_{s}[cl.code_{s} + 1]" for s in range(M_SUB))
    pq_cents = _PQ_CENTS_SQL.format(id=id_col, ks=KS_PQ)
    return f"""
WITH cents AS (
  SELECT {id_col} AS cent_id, embedding AS cent_emb FROM embeddings WHERE {id_col} < {n_lists}
),
ranked AS (
  SELECT e.{id_col}, e.embedding, c.cent_id,
         row_number() OVER (PARTITION BY e.{id_col}
                            ORDER BY {cos.format(a="e.embedding", b="c.cent_emb")} DESC, c.cent_id) AS cent_rank
  FROM embeddings e CROSS JOIN cents c
),
pq_cents AS ({pq_cents}),
coded_lists AS (
  SELECT l.{id_col} AS c_id, any_value(l.cent_id) AS list_id,
         {code_cols}
  FROM (SELECT {id_col}, embedding, cent_id FROM ranked WHERE cent_rank = 1) l
  CROSS JOIN pq_cents c
  GROUP BY l.{id_col}
),
probes AS (
  SELECT {id_col} AS q_id, cent_id AS list_id
  FROM ranked r
  WHERE ({_qualify(query_pred_sql, id_col, 'r')}) AND cent_rank <= {n_probe}
),
qtab AS (
  SELECT q.{id_col} AS q_id,
         {dtab_cols}
  FROM embeddings q CROSS JOIN pq_cents c
  WHERE ({_qualify(query_pred_sql, id_col, 'q')})
  GROUP BY q.{id_col}
),
cands AS (
  SELECT DISTINCT p.q_id, cl.c_id, cl.code_0, cl.code_1, cl.code_2, cl.code_3,
                  cl.code_4, cl.code_5, cl.code_6, cl.code_7
  FROM coded_lists cl JOIN probes p USING (list_id)
  WHERE p.q_id != cl.c_id
),
scored AS (
  SELECT cl.q_id, cl.c_id, {adc} AS adc_dist
  FROM cands cl JOIN qtab q USING (q_id)
),
out AS (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id ORDER BY adc_dist ASC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM out WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# contrastive pair mining — training data for embedding models
# ---------------------------------------------------------------------------

def contrastive_pairs(
    emb: DataFrame,
    anchor_filter,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-pair mining for contrastive / metric-learning training data
    (the batch-mining step of triplet-loss pipelines, e.g. FaceNet's
    semi-hard mining, Schroff et al. 2015): for every anchor row
    selected by `anchor_filter`, find the most-similar SAME-label
    candidate (hardest positive by cosine) and the most-similar
    OTHER-label candidate (hardest negative — the informative one that
    sits closest to the anchor across the class boundary). Ties break
    to the lower candidate id.

    Output: one row per anchor — (q_id, label, pos_id, pos_cosine,
    neg_id, neg_cosine); pos_* are NULL if the anchor's class has no
    other member.

    Scale shape: the anchor set (a training batch — thousands, not the
    corpus) broadcasts; the corpus is scanned ONCE with two conditional
    struct-min aggregates per anchor and never shuffles as vectors —
    partial aggregation reduces each task to ≤2 structs per anchor
    before the one tiny exchange on q_id."""
    anchors = emb.filter(anchor_filter).select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).alias("q_emb"),
        F.col(label_col).alias("q_label"),
    )
    cands = emb.select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("c_emb"),
        F.col(label_col).alias("c_label"),
    )
    cos = _cosine("q_emb", "c_emb")
    scored = (
        cands.crossJoin(F.broadcast(anchors))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", cos)
    )
    # min(struct(-cosine, c_id)) = highest cosine, ties to lower id
    pos = F.min(
        F.when(
            F.col("c_label") == F.col("q_label"),
            F.struct((-F.col("cosine")).alias("nc"), F.col("c_id").alias("c")),
        )
    ).alias("p")
    neg = F.min(
        F.when(
            F.col("c_label") != F.col("q_label"),
            F.struct((-F.col("cosine")).alias("nc"), F.col("c_id").alias("c")),
        )
    ).alias("n")
    return (
        scored.groupBy("q_id", "q_label")
        .agg(pos, neg)
        .select(
            "q_id",
            F.col("q_label").alias("label"),
            F.col("p.c").alias("pos_id"),
            (-F.col("p.nc")).alias("pos_cosine"),
            F.col("n.c").alias("neg_id"),
            (-F.col("n.nc")).alias("neg_cosine"),
        )
    )


def contrastive_pairs_sql(anchor_pred_sql: str, id_col: str = "vec_id") -> str:
    """DuckDB twin: same ordered-fold cosine, same struct-min argmax with
    lower-id tie-break, same NULL-if-singleton-class semantics."""
    cos = (
        "coalesce(list_sum(list_transform(list_zip(q.embedding, c.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / nullif(sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0)"
    )
    return f"""
WITH scored AS (
  SELECT q.{id_col} AS q_id, q.label AS q_label,
         c.{id_col} AS c_id, c.label AS c_label,
         {cos} AS cosine
  FROM embeddings q CROSS JOIN embeddings c
  WHERE ({_qualify(anchor_pred_sql, id_col, 'q')}) AND q.{id_col} != c.{id_col}
)
SELECT q_id, q_label AS label,
       (min(struct_pack(nc := -cosine, c := c_id)) FILTER (WHERE c_label = q_label)).c AS pos_id,
       -((min(struct_pack(nc := -cosine, c := c_id)) FILTER (WHERE c_label = q_label)).nc) AS pos_cosine,
       (min(struct_pack(nc := -cosine, c := c_id)) FILTER (WHERE c_label != q_label)).c AS neg_id,
       -((min(struct_pack(nc := -cosine, c := c_id)) FILTER (WHERE c_label != q_label)).nc) AS neg_cosine
FROM scored
GROUP BY q_id, q_label
"""


# ---------------------------------------------------------------------------
# reciprocal-rank fusion — lexical ⊕ semantic retrieval
# ---------------------------------------------------------------------------

def rrf_fuse(
    lexical: DataFrame,
    semantic: DataFrame,
    id_col: str = "doc_id",
    k0: int = 60,
    k: int = 25,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of two
    ranked retrieval lists — the standard hybrid-search combiner (BM25 ⊕
    embedding ANN) in RAG/curation pipelines:

        rrf(d) = Σ_lists 1/(k0 + rank_list(d)),  absent list → 0

    Inputs are (id_col, rank) frames; output is the fused top-k with
    provenance flags. Rank arithmetic is two exact integer-denominator
    divisions summed — bit-identical across engines, so fused order is
    deterministic (ties to the lower id).

    Scale shape: both inputs are already top-N lists (≤ a few hundred
    rows regardless of corpus size), so the fusion is a broadcast-scale
    full outer join + TakeOrderedAndProject — cost lives entirely in
    the upstream retrievers."""
    lex = lexical.select(F.col(id_col).alias("lex_id"), F.col("rank").alias("lex_rank"))
    sem = semantic.select(F.col(id_col).alias("sem_id"), F.col("rank").alias("sem_rank"))
    fused = (
        lex.join(sem, F.col("lex_id") == F.col("sem_id"), "full_outer")
        .select(
            F.coalesce(F.col("lex_id"), F.col("sem_id")).alias(id_col),
            (
                F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("sem_rank")), F.lit(0.0))
            ).alias("rrf_score"),
            F.col("lex_rank").isNotNull().alias("in_lexical"),
            F.col("sem_rank").isNotNull().alias("in_semantic"),
        )
    )
    top = fused.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return top.withColumn("fused_rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Sparse random projection (Achlioptas 2003) — JL dimensionality reduction
# ---------------------------------------------------------------------------
# The standard pre-step before LSH/IVF when the input dimensionality is
# high: project d dims onto d' << d with a sparse ±1 matrix, preserving
# pairwise distances to (1±ε) w.h.p. (Johnson-Lindenstrauss). The matrix
# entry R[j][i] is +1 w.p. 1/6, -1 w.p. 1/6, 0 w.p. 2/3, scaled by
# sqrt(3/d') — so only ~d/3 of the input components contribute to each
# output, and the whole projection is a MAP-ONLY codegen projection: no
# shuffle, no UDF, no matrix to ship (signs derive from md5 so every
# engine and every retry sees the same constants).


def rp_signs(out_dims: int = 8, dims: int = DIMS, salt: str = "rp") -> list[list[int]]:
    """Deterministic sparse sign matrix: md5(salt:j:i) % 6 → {+1,-1,0}
    with Achlioptas probabilities {1/6, 1/6, 2/3}. Pure-Python constants
    embedded as literals in BOTH engines (oracle-portability pattern a)."""
    import hashlib

    signs: list[list[int]] = []
    for j in range(out_dims):
        row = []
        for i in range(dims):
            r = int(hashlib.md5(f"{salt}:{j}:{i}".encode()).hexdigest()[:8], 16) % 6
            row.append(1 if r == 0 else (-1 if r == 1 else 0))
        signs.append(row)
    return signs


def _rp_body(row: list[int], emb_col: str, base: int) -> str:
    """One output dim's sum as a SQL string: left-associated adds in
    ascending input-dim order. `base` is the engine's array origin (0 for
    Spark SQL, 1 for DuckDB); everything else is shared verbatim, so
    both engines execute the identical IEEE op sequence — subtraction is
    bitwise a + (-b), so ` - x` spells the same op as adding a negated
    term."""
    parts: list[str] = []
    for i, s in enumerate(row):
        if s == 0:
            continue
        term = f"CAST({emb_col}[{i + base}] AS DOUBLE)"
        if not parts:
            parts.append(f"-{term}" if s < 0 else term)
        else:
            parts.append(f" - {term}" if s < 0 else f" + {term}")
    return "".join(parts) if parts else "0.0"


def random_projection(
    emb: DataFrame,
    out_dims: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    salt: str = "rp",
) -> DataFrame:
    """Project each vector to `out_dims` scalar columns p0..p{d'-1}.

    Each output column is ONE `F.expr` string (single parse — building
    ~170 terms through the py4j Column API costs a round trip per node;
    the expr-string rule from the kmeans lambda trap). Output is scalar
    columns only (checked-output contract: no arrays)."""
    import math

    signs = rp_signs(out_dims, salt=salt)
    # D suffix: a bare decimal literal parses as DECIMAL in Spark SQL;
    # the DuckDB twin's bare literal promotes decimal→double to the same
    # bits (repr is shortest-round-trip), but here we say double outright
    scale = repr(math.sqrt(3.0 / out_dims)) + "D"
    cols = [F.col(id_col)] + [
        F.expr(f"({_rp_body(row, emb_col, 0)}) * {scale}").alias(f"p{j}")
        for j, row in enumerate(signs)
    ]
    return emb.select(*cols)


def random_projection_sql(
    out_dims: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    salt: str = "rp",
    table: str = "embeddings",
) -> str:
    import math

    signs = rp_signs(out_dims, salt=salt)
    scale = repr(math.sqrt(3.0 / out_dims))
    sel = [id_col] + [
        f"({_rp_body(row, emb_col, 1)}) * {scale} AS p{j}"
        for j, row in enumerate(signs)
    ]
    return "SELECT " + ", ".join(sel) + f" FROM {table}"


# ---------------------------------------------------------------------------
# cluster quality: simplified silhouette (centroid-based)
# ---------------------------------------------------------------------------

def silhouette(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector SIMPLIFIED silhouette (Hruschka et al.'s centroid
    variant): a = distance to the vector's own cluster mean, b = min
    distance to any other cluster mean, score = (b - a) / max(a, b).
    The full silhouette's per-pair mean distances are O(n²) within
    clusters; the centroid form is the published linear-cost proxy and
    the one a curation pipeline can afford at corpus scale — it grades
    how cleanly SemDeDup/k-means clusters separate before trusting them
    to bound dedup comparisons.

    Centroids are RECOMPUTED from the final k-means assignment (the
    cluster means actually being judged), with the same id-ordered fold
    discipline as kmeans_assign, so both engines agree bit-for-bit.
    Scale shape: one explode-by-position agg for the k·dim means, then a
    MAP-ONLY scoring pass — all k centroids travel as one broadcast row
    and every distance is an in-projection ordered fold (no n×k row
    expansion). Empty-b edge (k = 1) and a = b = 0 both score 0.0."""
    assign = kmeans_assign(emb, k, iterations, id_col, vec_col)
    j = (
        emb.select(id_col, vec_col)
        .join(assign.select(id_col, "cluster_id"), id_col)
        .localCheckpoint(eager=False)  # feeds centroid agg AND scoring
    )
    by_pos = j.select(
        "cluster_id", id_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    sums = by_pos.groupBy("cluster_id", "pos").agg(
        F.expr(
            f"aggregate(array_sort(collect_list(struct({id_col} AS i, val AS v))), "
            "0D, (acc, s) -> acc + CAST(s.v AS DOUBLE))"
        ).alias("s"),
        F.count("*").alias("n"),
    )
    cents = sums.groupBy("cluster_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, s / n AS mean))), s -> s.mean)"
        ).alias("cvec")
    )
    cent_row = cents.agg(
        F.expr("array_sort(collect_list(struct(cluster_id AS cid, cvec)))").alias(
            "cent_arr"
        )
    )
    dist = (
        f"transform(cent_arr, c -> struct(sqrt(aggregate(zip_with({vec_col}, c.cvec, "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0D, (acc, v) -> acc + v)) AS d, c.cid AS cid))"
    )
    scored = (
        j.crossJoin(F.broadcast(cent_row))
        .withColumn("ds", F.expr(dist))
        .withColumn(
            "own_dist", F.expr("filter(ds, x -> x.cid = cluster_id)[0].d")
        )
        .withColumn(
            "next_dist", F.expr("array_min(filter(ds, x -> x.cid != cluster_id)).d")
        )
    )
    sil = F.expr(
        "CASE WHEN next_dist IS NULL THEN 0.0D "
        "WHEN greatest(own_dist, next_dist) > 0D "
        "THEN (next_dist - own_dist) / greatest(own_dist, next_dist) "
        "ELSE 0.0D END"
    )
    return scored.select(
        id_col, "cluster_id", "own_dist",
        F.coalesce("next_dist", F.lit(0.0)).alias("next_dist"),
        sil.alias("silhouette"),
    )


def silhouette_sql(k: int = 8, iterations: int = 2) -> str:
    """DuckDB twin: the unrolled k-means twin as a nested CTE, then the
    same recomputed-centroid ordered folds and min-distance scoring."""
    kms = kmeans_assign_sql(k, iterations)
    return f"""
WITH assign AS ({kms}),
j AS (
  SELECT e.vec_id, e.embedding, a.cluster_id
  FROM embeddings e JOIN assign a USING (vec_id)
),
bp AS (
  SELECT cluster_id, vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS val
  FROM j
),
s AS (
  SELECT cluster_id, pos,
         list_sum(list_transform(list(CAST(val AS DOUBLE) ORDER BY vec_id), x -> x)) AS s,
         count(*) AS n
  FROM bp GROUP BY 1, 2
),
c AS (SELECT cluster_id AS cid, list(s / n ORDER BY pos) AS cvec FROM s GROUP BY 1),
d AS (
  SELECT j.vec_id, j.cluster_id, c.cid,
         sqrt(list_sum(list_transform(list_zip(j.embedding, c.cvec),
           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
              * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS dist
  FROM j CROSS JOIN c
),
ab AS (
  SELECT vec_id, cluster_id,
         max(CASE WHEN cid = cluster_id THEN dist END) AS own_dist,
         min(CASE WHEN cid <> cluster_id THEN dist END) AS next_dist
  FROM d GROUP BY 1, 2
)
SELECT vec_id, cluster_id, own_dist,
       coalesce(next_dist, 0.0) AS next_dist,
       CASE WHEN next_dist IS NULL THEN 0.0
            WHEN greatest(own_dist, next_dist) > 0
            THEN (next_dist - own_dist) / greatest(own_dist, next_dist)
            ELSE 0.0 END AS silhouette
FROM ab
"""


def embedding_drift(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding drift between two deterministic corpus halves
    (even ids = reference window, odd ids = current) — the
    distribution-shift monitor an embedding pipeline runs before trusting
    ANN indexes / cluster assignments trained on yesterday's corpus:
    drift = L2 distance between the halves' per-label mean vectors.

    Exactness: per-half centroids use the same id-ordered fold as
    kmeans_assign, the distance is a fixed-dimension-order fold, sqrt is
    correctly rounded — bit-identical cross-engine. Scale shape: one
    explode-by-position agg (n·dim rows → label·2·dim groups) and a
    label-sized join; the corpus never self-joins. Labels present in
    only ONE half have no drift to measure and drop out (inner join) —
    a monitor wanting appear/disappear alerts should diff the label
    sets separately."""
    halves = emb.select(
        F.col(label_col).alias("label"),
        (F.col(id_col) % 2).cast("int").alias("half"),
        F.col(id_col).alias("i"),
        F.col(vec_col).alias("v"),
    )
    by_pos = halves.select(
        "label", "half", "i", F.posexplode(F.col("v")).alias("pos", "val")
    )
    sums = by_pos.groupBy("label", "half", "pos").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(i, val AS v))), "
            "0D, (acc, s) -> acc + CAST(s.v AS DOUBLE))"
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cents = sums.groupBy("label", "half").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, s / n AS mean))), x -> x.mean)"
        ).alias("cvec"),
        F.max("n").alias("n_vecs"),
    )
    old = cents.filter(F.col("half") == 0).select(
        "label", F.col("cvec").alias("c_old"), F.col("n_vecs").alias("n_old")
    )
    new = cents.filter(F.col("half") == 1).select(
        "label", F.col("cvec").alias("c_new"), F.col("n_vecs").alias("n_new")
    )
    drift = F.expr(
        "sqrt(aggregate(zip_with(c_old, c_new, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, v) -> acc + v))"
    )
    return old.join(new, "label").select(
        "label", "n_old", "n_new", drift.alias("drift_l2")
    )


def embedding_drift_sql() -> str:
    return """
WITH halves AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS half, vec_id AS i, embedding AS v
  FROM embeddings
),
bp AS (
  SELECT label, half, i, generate_subscripts(v, 1) AS pos, unnest(v) AS val
  FROM halves
),
s AS (
  SELECT label, half, pos,
         list_sum(list_transform(list(CAST(val AS DOUBLE) ORDER BY i), x -> x)) AS s,
         count(*) AS n
  FROM bp GROUP BY 1, 2, 3
),
c AS (
  SELECT label, half, list(s / n ORDER BY pos) AS cvec, max(n) AS n_vecs
  FROM s GROUP BY 1, 2
)
SELECT o.label, o.n_vecs AS n_old, n.n_vecs AS n_new,
       sqrt(list_sum(list_transform(list_zip(o.cvec, n.cvec),
         p -> (p[1] - p[2]) * (p[1] - p[2])))) AS drift_l2
FROM c o JOIN c n ON o.label = n.label AND o.half = 0 AND n.half = 1
"""


def ann_recall_report(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    planes_n: int = PLANES,
    bands: int = BANDS,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN quality evaluation IN the engine: per query and method
    (hyperplane-LSH, IVF), recall@k against the exact brute-force top-k
    — "measure, don't guess" applied to the index itself. This is the
    report a pipeline runs before trusting an approximate index at a new
    corpus scale or after re-tuning bands/lists.

    Exact counts + one integer-by-constant division (n_hits / k) — no
    order-dependent float math. Scale: the exact arm is the O(n·q)
    baseline priced by the (small) query set, not the corpus pair
    space; both approximate arms reuse the production kernels
    unchanged, so the report measures what actually ships."""
    q = emb.filter(query_filter).select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    c = emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
    exact = cosine_topk(q, c, k).select("q_id", "c_id").localCheckpoint(
        eager=False  # semi-joined by every method arm
    )
    qids = exact.select("q_id").distinct()
    arms = [
        ("lsh", lsh_bucketed_topk(emb, query_filter, k, planes_n, bands, id_col, emb_col)),
        ("ivf", ivf_topk(emb, query_filter, k, n_lists, n_probe, id_col, emb_col)),
    ]
    outs = []
    for name, approx in arms:
        hits = (
            approx.select("q_id", "c_id")
            .join(exact, ["q_id", "c_id"], "left_semi")
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        outs.append(
            qids.join(hits, "q_id", "left").select(
                "q_id",
                F.lit(name).alias("method"),
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                (F.coalesce("n_hits", F.lit(0)).cast("double") / k).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# persisted IVF index: the on-disk form of ivf_topk's inverted lists
# ---------------------------------------------------------------------------

def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_lists: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus AS the inverted file: parquet partitioned by
    `list_id` (nearest fixed-codebook centroid), so a probe's list
    predicate becomes PARTITION PRUNING — the scan never opens the other
    lists' files. This is the claim in ivf_topk's docstring made real:
    at 100 TB the index is directories, and n_probe/n_lists of the bytes
    are read per query batch. The codebook rides along under
    `_codebook/` (one row per centroid) so probes rebuild nothing."""
    lists = _ivf_ranked(emb, n_lists, id_col, emb_col).select(
        id_col, emb_col, F.expr("cent_ranked[0].cid").alias("list_id")
    )
    lists.write.partitionBy("list_id").mode(mode).parquet(path)
    cents = emb.filter(F.col(id_col) < n_lists).select(
        F.col(id_col).alias("cent_id"), F.col(emb_col).alias("cent_emb")
    )
    cents.write.mode(mode).parquet(path.rstrip("/") + "/_codebook")


def append_ivf_index(
    spark,
    path: str,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Day-2 maintenance of the persisted inverted file: assign NEW
    vectors against the index's PERSISTED codebook (never re-derived —
    re-deriving from the incoming batch would silently shift list
    boundaries and orphan the existing partitions) and append them to
    the same list_id partition layout. The incremental-dedup story
    (dedup.probe_dedup_index) applied to ANN: day-2 data pays one
    map-only assignment pass + an append write; nothing existing is
    rewritten, and probes see old + new vectors through the identical
    partition-pruned scan.

    Assignment reuses the broadcast-one-row kernel (`_ivf_ranked`'s
    shape) with centroids sourced from `_codebook/`, so day-2
    assignments are bit-identical to what a full rebuild with the same
    codebook would produce."""
    cents = (
        spark.read.parquet(path.rstrip("/") + "/_codebook")
        .select("cent_id", "cent_emb", _norm("cent_emb").alias("cn"))
    )
    cent_row = cents.agg(
        F.expr(
            "array_sort(collect_list(struct(cent_id AS cid, cent_emb AS cvec, cn)))"
        ).alias("cent_arr")
    )
    assigned = (
        new_emb.crossJoin(F.broadcast(cent_row))
        .withColumn("vn", _norm(emb_col))
        .withColumn(
            "cent_ranked",
            F.expr(
                "array_sort(transform(cent_arr, c -> struct("
                f"coalesce(aggregate(zip_with({emb_col}, c.cvec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " 0D, (acc, v) -> acc + v) / nullif(vn * c.cn, 0D), 0D) AS s, c.cid AS cid)), "
                "(l, r) -> CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1 "
                "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 ELSE 0 END)"
            ),
        )
        .select(id_col, emb_col, F.expr("cent_ranked[0].cid").alias("list_id"))
    )
    assigned.write.partitionBy("list_id").mode("append").parquet(path)


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Query the persisted index: rank the codebook per query, COLLECT
    the tiny probe-list set (bounded by queries × n_probe — the same
    lookup a query router does), and scan ONLY those partitions via a
    static `list_id IN (...)` predicate, which the parquet source
    evaluates as PartitionFilters (assert-tested). Exact cosine re-ranks
    within the probed lists — identical results to the in-memory
    ivf_topk for the same codebook/probe discipline."""
    cents = spark.read.parquet(path.rstrip("/") + "/_codebook")
    q = queries.select(F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb"))
    ranked = q.crossJoin(F.broadcast(cents)).withColumn(
        "cent_sim", _cosine("q_emb", "cent_emb")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cent_sim").desc(), F.col("cent_id"))
    probes = (
        ranked.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= n_probe)
        .select("q_id", "q_emb", F.col("cent_id").alias("list_id"))
        .localCheckpoint(eager=False)
    )
    probe_ids = sorted({r.list_id for r in probes.select("list_id").distinct().collect()})
    index = spark.read.parquet(path).filter(F.col("list_id").isin(probe_ids))
    cands = (
        probes.join(index, "list_id")
        .filter(F.col("q_id") != F.col(id_col))
        .dropDuplicates(["q_id", id_col])
        .withColumn("cosine", _cosine("q_emb", emb_col))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cands.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col(id_col).alias("c_id"), "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# MMR diversification (Carbonell & Goldstein 1998) — re-rank a retrieval
# pool so results are relevant AND mutually dissimilar
# ---------------------------------------------------------------------------


def mmr_diversify(
    emb: DataFrame,
    query_ids: tuple[int, ...] = (0, 7, 21),
    pool: int = 16,
    k_out: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    driver_cells_limit: int = 5_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick k_out results
    from each query's cosine top-`pool`, where pick i maximizes
    λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). λ is FIXED at 0.5, so
    the argmax objective reduces to rel_q − maxsim_q on floor-quantized
    nano-cosines — pure BIGINT comparisons, bit-identical across engines
    (ties to the lower candidate id).

    The greedy selection runs DRIVER-LOCAL below `driver_cells_limit`
    (queries × pool² sim cells — the bpe_train device, r10): retrieval
    and the pairwise-sim table are computed by the ENGINE (the exact
    same _cosine expression and nano-quantization as the distributed
    loop, so every compared number is engine-produced and bit-identical
    to it), then the queries×pool relevance rows and queries×pool²
    sim rows — constants independent of corpus size — are collected and
    the k_out−1 greedy argmax steps are pure Python BIGINT compares
    (same (mmr DESC, c_id ASC) order). The r10 build/exec split showed
    the DataFrame loop's wall was ~85% plan-build + scheduling of
    3×16-row frames (total 3.0-3.9 s vs 0.3-0.4 s retrieval); the
    driver path removes it while the retrieval stage keeps carrying the
    scale story (swap cosine_topk for the IVF/LSH retrievers at
    100 TB). Past the limit, the distributed fixed-iteration loop below
    runs unchanged — each frame queries × pool rows, no collect.

    The whole build runs in the AQE-off loop-session clone
    (session.loop_session — the pagerank/_cc_distributed treatment, r9
    verdict task 2): under AQE each of the 6 lazy checkpoint marks
    (cands, sims, one per-iteration union) executed its subtree eagerly
    at plan-build time — 42 driver-scheduled job launches before the
    caller's first action (tools/build_jobs.py r8 headline). Marked
    statically in the clone they stay lazy; the sole loop input `emb`
    is rebound in ONCE at the top (the all-inputs-together rule from
    session.lazy_mark's self-join hazard), and the result is re-homed
    so downstream plans keep the caller's conf. Outputs are
    bit-identical: the argmax is quantized-BIGINT with id tie-breaks,
    and AQE never changes row values."""
    from blueflood_spark.session import loop_session, rebind

    caller = emb.sparkSession
    if len(query_ids) * pool * pool <= driver_cells_limit:
        q0 = emb.filter(F.col(id_col).isin(*query_ids)).select(
            F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
        )
        c0 = emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
        # identical expressions to the distributed loop below: every
        # number the greedy compares is ENGINE-computed (cosine_topk,
        # _cosine, nano-floor quantization); the driver only orders ints
        cands0 = (
            cosine_topk(q0, c0, k=pool)
            .select(
                "q_id",
                "c_id",
                F.floor(F.col("cosine") * 1_000_000_000).cast("long").alias("rel_q"),
            )
            .join(
                F.broadcast(
                    emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
                ),
                "c_id",
            )
            .localCheckpoint(eager=False)  # seqmat: persists before the sims/slim fan-out
        )
        pa0 = cands0.select("q_id", F.col("c_id").alias("a_id"), F.col("c_emb").alias("a_emb"))
        pb0 = cands0.select("q_id", F.col("c_id").alias("b_id"), F.col("c_emb").alias("b_emb"))
        sims0 = (
            pa0.join(pb0, "q_id")
            .filter(F.col("a_id") != F.col("b_id"))
            .select(
                "q_id",
                "a_id",
                "b_id",
                F.floor(_cosine("a_emb", "b_emb") * 1_000_000_000).cast("long").alias("sim_q"),
            )
        )
        rel: dict = {}
        pool_ids: dict = {}
        for r in cands0.select("q_id", "c_id", "rel_q").collect():
            rel[(r["q_id"], r["c_id"])] = r["rel_q"]
            pool_ids.setdefault(r["q_id"], []).append(r["c_id"])
        sim: dict = {}
        for r in sims0.collect():
            sim.setdefault(r["q_id"], {})[(r["a_id"], r["b_id"])] = r["sim_q"]
        picks = []
        for qid, cids in pool_ids.items():
            # pick 1: max rel_q, ties to the lower c_id — the
            # row_number(rel_q DESC, c_id ASC) == 1 rule verbatim
            first = min(cids, key=lambda cid: (-rel[(qid, cid)], cid))
            selected = [first]
            picks.append((qid, first, 1, rel[(qid, first)]))
            qsim = sim.get(qid, {})
            for i in range(2, k_out + 1):
                scored = []
                for cid in cids:
                    if cid in selected:
                        continue
                    ms = [qsim[(cid, b)] for b in selected if (cid, b) in qsim]
                    if not ms:  # mirrors the inner join on maxsim
                        continue
                    scored.append((rel[(qid, cid)] - max(ms), cid))
                if not scored:
                    break
                _, pick_id = min(scored, key=lambda t: (-t[0], t[1]))
                selected.append(pick_id)
                picks.append((qid, pick_id, i, rel[(qid, pick_id)]))
        # schema derived from the engine frame so the driver path keeps
        # the id column's actual type (id_col need not be bigint — the
        # distributed path below preserves it, so must this one)
        from pyspark.sql.types import LongType, StructField, StructType

        slim_fields = {f.name: f for f in cands0.select("q_id", "c_id", "rel_q").schema.fields}
        out_schema = StructType(
            [
                slim_fields["q_id"],
                slim_fields["c_id"],
                # non-nullable to match the distributed path's F.lit
                StructField("pick_order", LongType(), nullable=False),
                slim_fields["rel_q"],
            ]
        )
        return caller.createDataFrame(sorted(picks), schema=out_schema)
    emb = rebind(emb, loop_session(caller))
    q = emb.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    c = emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
    cands = (
        cosine_topk(q, c, k=pool)
        .select(
            "q_id",
            "c_id",
            F.floor(F.col("cosine") * 1_000_000_000).cast("long").alias("rel_q"),
        )
        .join(
            F.broadcast(emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))),
            "c_id",
        )
        .localCheckpoint(eager=False)
    )
    # r10 seqmat caveat: this clone-lazy mark persists only on first
    # compute, and its three consumers (pa/pb/slim) can race-recompute
    # the retrieval subtree — a corpus-sized scan — up to 3x on the
    # first action (PLANS.md r10). Tolerated because this branch runs
    # only ABOVE driver_cells_limit (the driver-local path below the
    # gate marks cands0 AQE-EAGER, persist-before-fan-out); if this
    # loop ever becomes the primary path, eager-checkpoint cands in the
    # clone first (one static job) before fanning out.
    pa = cands.select("q_id", F.col("c_id").alias("a_id"), F.col("c_emb").alias("a_emb"))
    pb = cands.select("q_id", F.col("c_id").alias("b_id"), F.col("c_emb").alias("b_emb"))
    sims = (
        pa.join(pb, "q_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "q_id",
            "a_id",
            "b_id",
            F.floor(
                _cosine("a_emb", "b_emb")
                * 1_000_000_000
            )
            .cast("long")
            .alias("sim_q"),
        )
        .localCheckpoint(eager=False)
    )
    slim = cands.select("q_id", "c_id", "rel_q")
    w = Window.partitionBy("q_id")
    sel = (
        slim.withColumn(
            "r", F.row_number().over(w.orderBy(F.col("rel_q").desc(), "c_id"))
        )
        .filter(F.col("r") == 1)
        .select("q_id", "c_id", "rel_q", F.lit(1).alias("pick_order"))
    )
    for i in range(2, k_out + 1):
        picked = sel.select("q_id", F.col("c_id").alias("b_id"))
        maxsim = (
            sims.join(picked, ["q_id", "b_id"])
            .groupBy("q_id", "a_id")
            .agg(F.max("sim_q").alias("maxsim_q"))
        )
        # left_anti drops already-picked; every remaining candidate has a
        # maxsim row because the picked set is non-empty and sims is total
        scored = (
            slim.join(sel.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti")
            .join(
                maxsim.withColumnRenamed("a_id", "c_id"), ["q_id", "c_id"]
            )
            .withColumn("mmr_q", F.col("rel_q") - F.col("maxsim_q"))
        )
        pick = (
            scored.withColumn(
                "r", F.row_number().over(w.orderBy(F.col("mmr_q").desc(), "c_id"))
            )
            .filter(F.col("r") == 1)
            .select("q_id", "c_id", "rel_q", F.lit(i).alias("pick_order"))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return rebind(
        sel.select(
            "q_id",
            "c_id",
            F.col("pick_order").cast("long").alias("pick_order"),
            "rel_q",
        ),
        caller,
    )


def mmr_diversify_sql(
    query_ids: tuple[int, ...] = (0, 7, 21),
    pool: int = 16,
    k_out: int = 5,
    id_col: str = "vec_id",
) -> str:
    """Unrolled-CTE twin: one sel_i CTE per greedy iteration, each taking
    the quantized argmax over the not-yet-picked pool exactly like the
    Spark loop.

    MATERIALIZED on cands/sims/sel_1/sel_all_i (r9): DuckDB inlines
    plain CTEs at every reference, so the chained sel_all_i (3 refs
    each: join, NOT EXISTS, union) re-evaluated EXPONENTIALLY in k_out,
    and cands (7 refs) re-ran the crossJoin cosine each time. Oracle-
    side only; rows identical."""
    ids = ", ".join(str(i) for i in query_ids)
    cos = (
        "coalesce(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / nullif(sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 0)"
    )
    parts = [
        f"""
WITH qs AS (
  SELECT {id_col} AS q_id, embedding AS q_emb FROM embeddings
  WHERE {id_col} IN ({ids})
),
ranked AS (
  SELECT q_id, c_id, rel_q, row_number() OVER (
           PARTITION BY q_id ORDER BY rel_q DESC, c_id) AS r
  FROM (
    SELECT qs.q_id, c.{id_col} AS c_id,
           CAST(floor(({cos.format(a="qs.q_emb", b="c.embedding")}) * 1000000000)
                AS BIGINT) AS rel_q
    FROM qs CROSS JOIN embeddings c WHERE qs.q_id != c.{id_col}
  )
),
cands AS MATERIALIZED (SELECT q_id, c_id, rel_q FROM ranked WHERE r <= {pool}),
sims AS MATERIALIZED (
  SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
         CAST(floor(({cos.format(a="ea.embedding", b="eb.embedding")}) * 1000000000)
              AS BIGINT) AS sim_q
  FROM cands a
  JOIN cands b ON a.q_id = b.q_id AND a.c_id != b.c_id
  JOIN embeddings ea ON ea.{id_col} = a.c_id
  JOIN embeddings eb ON eb.{id_col} = b.c_id
),
sel_1 AS MATERIALIZED (
  SELECT q_id, c_id, rel_q, 1 AS pick_order FROM cands
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rel_q DESC, c_id) = 1
)"""
    ]
    prev = "sel_1"
    for i in range(2, k_out + 1):
        parts.append(
            f""",
sel_{i} AS (
  SELECT q_id, c_id, rel_q, {i} AS pick_order FROM (
    SELECT c.q_id, c.c_id, c.rel_q,
           row_number() OVER (PARTITION BY c.q_id
                              ORDER BY c.rel_q - m.maxsim_q DESC, c.c_id) AS r
    FROM cands c
    JOIN (SELECT s.q_id, s.a_id, max(s.sim_q) AS maxsim_q
          FROM sims s JOIN {prev} p ON s.q_id = p.q_id AND s.b_id = p.c_id
          GROUP BY 1, 2) m
      ON c.q_id = m.q_id AND c.c_id = m.a_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                      WHERE p.q_id = c.q_id AND p.c_id = c.c_id)
  ) WHERE r = 1
)"""
        )
        parts.append(
            f""",
sel_all_{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM sel_{i})"""
        )
        prev = f"sel_all_{i}"
    parts.append(
        f"""
SELECT q_id, c_id, CAST(pick_order AS BIGINT) AS pick_order, rel_q FROM {prev}"""
    )
    return "".join(parts)


def sq8_ann_topk(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Compressed-domain ANN over the int8 codes — the query path
    sq8_quantize exists for: score(q, c) = scale_q · scale_c · Σ
    code_q[i]·code_c[i], the symmetric-quantization estimate of the
    float dot product at 4× less bandwidth. The integer dot is EXACT
    (|code| ≤ 127, so a 64-dim sum fits a BIGINT with ~2^43 headroom)
    and the only float op is one multiply of two exactly-equal doubles,
    so the ranking is bit-identical on any engine; ties break to the
    lower candidate id. Zero vectors carry scale 0 → score 0 (no
    division anywhere).

    Plan: encode is sq8_quantize's map-only projection; the tiny query
    set broadcasts against the coded corpus (the corpus scan reads
    codes, 4× fewer bytes than raw floats at scale); per-query top-k is
    a rank window over the partitioned pairs."""
    coded = sq8_quantize(emb, id_col, emb_col).select(id_col, "scale", "codes")
    q = coded.filter(query_filter).select(
        F.col(id_col).alias("q_id"),
        F.col("scale").alias("q_scale"),
        F.col("codes").alias("q_codes"),
    )
    c = coded.select(
        F.col(id_col).alias("c_id"),
        F.col("scale").alias("c_scale"),
        F.col("codes").alias("c_codes"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    int_dot = F.expr(
        "aggregate(zip_with(q_codes, c_codes, (x, y) -> CAST(x AS BIGINT) * y),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    scored = pairs.select(
        "q_id",
        "c_id",
        int_dot.alias("int_dot"),
        (F.col("q_scale") * F.col("c_scale")).alias("_ss"),
    ).withColumn("score", F.col("_ss") * F.col("int_dot"))
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            "int_dot",
            F.floor(F.col("score") * 1_000_000).cast("long").alias("score_micro"),
            "rank",
        )
    )


def sq8_ann_topk_sql(query_pred_sql: str, k: int = 10, id_col: str = "vec_id") -> str:
    return f"""
WITH sq8 AS ({sq8_quantize_sql(id_col)}),
q AS (
  SELECT {id_col} AS q_id, scale AS q_scale, codes AS q_codes
  FROM sq8 WHERE {query_pred_sql}
),
pairs AS (
  SELECT q.q_id, c.{id_col} AS c_id,
         CAST(list_sum(list_transform(list_zip(q.q_codes, c.codes),
              p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT) AS int_dot,
         q.q_scale * c.scale AS ss
  FROM q CROSS JOIN sq8 c
  WHERE q.q_id <> c.{id_col}
),
ranked AS (
  SELECT q_id, c_id, int_dot,
         CAST(floor(ss * int_dot * 1000000) AS BIGINT) AS score_micro,
         row_number() OVER (PARTITION BY q_id ORDER BY ss * int_dot DESC, c_id) AS rank
  FROM pairs
)
SELECT q_id, c_id, int_dot, score_micro, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def ivf_nprobe_sweep(
    emb: DataFrame,
    query_filter,
    k: int = 10,
    n_lists: int = 8,
    probes: tuple[int, ...] = (1, 2, 4, 8),
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The IVF tuning CURVE: mean recall@k per n_probe — the number an
    IVF deployment actually tunes (probe more lists → higher recall,
    linearly more candidates scanned). ONE candidate pass, not one per
    arm: probe lists are nested supersets across n_probe levels, so the
    sweep computes candidates once at max(n_probe) with each (query,
    candidate) pair tagged by the MINIMAL probe rank that admits it
    (posexplode position of the candidate's list in the query's
    centroid ranking), then derives every sweep level by filter + one
    shared rank window — the per-level top-k is bit-equal to running
    ivf_topk at that level because the candidate set {probe_rank ≤ p}
    and the cosine/ordering kernel are identical. The exact arm runs
    once (priced by the query set, lazily checkpointed). Output: one
    row per n_probe with exact hit counts and mean recall =
    total_hits / (k·n_queries) — a single division of exact integers."""
    pmax = max(probes)
    ranked = _ivf_ranked(emb, n_lists, id_col, emb_col)
    lists = ranked.select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).alias("c_emb"),
        F.expr("cent_ranked[0].cid").alias("list_id"),
    )
    probe_lists = (
        ranked.filter(query_filter)
        .select(
            F.col(id_col).alias("q_id"),
            F.col(emb_col).alias("q_emb"),
            F.posexplode(F.expr(f"slice(cent_ranked, 1, {int(pmax)})")).alias("pos", "pr"),
        )
        .select(
            "q_id", "q_emb", F.col("pr.cid").alias("list_id"),
            (F.col("pos") + 1).alias("probe_rank"),
        )
    )
    cands = (
        lists.join(F.broadcast(probe_lists), "list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", _cosine("q_emb", "c_emb").alias("cosine"), "probe_rank")
    )
    if pmax >= n_lists:
        # every list is probed at the top sweep level, so the candidate
        # pool IS the full query×corpus pair set — the exact arm is a
        # rank over the SAME cosines (identical kernel, identical
        # ordering), not a second corpus pass. Materialize the pool once
        # for its three consumers (exact rank, sweep window, semi-join).
        cands = cands.localCheckpoint(eager=False)
        we = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
        exact = (
            cands.withColumn("_xr", F.row_number().over(we))
            .filter(F.col("_xr") <= k)
            .select("q_id", "c_id")
        )
    else:
        q = emb.filter(query_filter).select(
            F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
        )
        c = emb.select(F.col(id_col).alias("c_id"), F.col(emb_col).alias("c_emb"))
        exact = cosine_topk(q, c, k).select("q_id", "c_id").localCheckpoint(eager=False)
    n_q = exact.agg(F.countDistinct("q_id").alias("n_queries"))
    # tag each pair with every sweep level that admits it — candidate
    # ROWS fan out (≤ |probes|×), the cosine is computed exactly once
    admitted = cands.withColumn(
        "n_probe", F.explode(F.array(*[F.lit(int(p)) for p in probes]))
    ).filter(F.col("n_probe") >= F.col("probe_rank"))
    w = Window.partitionBy("n_probe", "q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    topk = admitted.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    hits = (
        topk.join(exact, ["q_id", "c_id"], "left_semi")
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    levels = emb.sparkSession.createDataFrame(
        [(int(p),) for p in probes], "n_probe int"
    ).repartition(1)
    return (
        levels.join(F.broadcast(hits), "n_probe", "left")
        .crossJoin(F.broadcast(n_q))
        .select(
            "n_probe",
            "n_queries",
            F.coalesce(F.col("_hits"), F.lit(0)).cast("long").alias("total_hits"),
            # nullif guard: an empty query set must yield 0, not an ANSI
            # divide-by-zero (the empty-tables sweep caught the unguarded form)
            F.coalesce(
                F.coalesce(F.col("_hits"), F.lit(0)).cast("double")
                / F.nullif((k * F.col("n_queries")).cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("mean_recall"),
        )
    )
